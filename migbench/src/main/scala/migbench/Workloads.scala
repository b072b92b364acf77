package migbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** How an op calls `migrate`: straight through the public API, or
  * decomposed under the tracer. Arguments: database, migrations home,
  * ledger path. */
trait Migrate {
  def apply(db: String, home: Path, ledger: Path): Unit
}

/** One op's private state and checks. */
trait Op {
  /** The timed part: the `migrate` calls. */
  def run(migrate: Migrate): Unit
  /** Throws unless the program left exactly the expected state. */
  def verify(): Unit
  /** The table the read mix queries, with its value column and row count. */
  def readTable: (String, String, Long)
  /** Data bytes of the op's user tables, ledger excluded. */
  def storedBytes: Long
  /** Untimed: drop the op's database and delete its files. */
  def cleanup(): Unit
}

/** A workload: seeded inputs, a set-up that builds what ops start from,
  * and a fresh [[Op]] per iteration. */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  /** Generate the inputs and build the state ops start from; called once
    * per set-up round, each round starting afresh in its own directory. */
  def setup(round: Int): Unit
  def op(id: String): Op
  /** Untimed ops each set-up round ends with. */
  def warmupOps: Int

  protected def warehouse(db: String): Path = work.resolve("warehouse").resolve(s"$db.db")

  protected def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"verification failed: $what")

  protected def drop(db: String, dirs: Path*): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    dirs.foreach(Disk.delete)
  }

  /** Ledger rows as (version → md5), read straight from its parquet files. */
  protected def ledgerRows(ledger: Path): Map[Int, String] =
    spark.read.parquet(ledger.toString).select("version", "md5").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap

  /** Row count of every table in `expected`, in one query. */
  protected def tableRows(db: String, expected: Map[String, Long]): Map[String, Long] =
    spark.sql(expected.keys.toSeq.sorted
      .map(t => s"SELECT '$t' AS t, count(*) AS n FROM $db.$t").mkString(" UNION ALL "))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  protected def largest(rows: Map[String, Long]): String = rows.maxBy { case (t, n) => (n, t) }._1
}

object Workloads {
  val HistoryVersions = 25
  val BootstrapVersions = 20

  val names: Seq[String] = Seq("seq_dml_100k", "noop_on_history", "fresh_bootstrap")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload = name match {
    case "seq_dml_100k" => new SeqDml(spark, work, seed)
    case "noop_on_history" => new NoopOnHistory(spark, work, seed)
    case "fresh_bootstrap" => new FreshBootstrap(spark, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other; one of ${names.mkString(", ")}")
  }
}

/** The paper's scenario on a fresh database per op: `migrate` applies
  * V1 (CREATE) and V2 (100k-row gzip CSV ingest), then a second `migrate`
  * applies V3's five sequential DMLs. */
final class SeqDml(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  private var csv: CsvGolden = _
  private var files: (Seq[MigrationFile], MigrationFile) = _
  val warmupOps = 2

  def setup(round: Int): Unit = {
    val path = work.resolve(s"inputs-$round").resolve("sample.csv.gz")
    csv = Inputs.writeCsv(path, seed)
    files = Inputs.seqDml(path.toAbsolutePath.toString)
  }

  def op(id: String): Op = new Op {
    private val db = s"seq_$id"
    private val dir = work.resolve(s"op-$id")
    private val home = dir.resolve("migrations")
    private val ledger = dir.resolve("ledger")
    private var md5 = Inputs.stage(home, db, files._1)

    def run(migrate: Migrate): Unit = {
      migrate(db, home, ledger)
      md5 ++= Inputs.stage(home, db, Seq(files._2))
      migrate(db, home, ledger)
    }

    def verify(): Unit = {
      val r = spark.sql(
        s"""SELECT count(*), count(CASE WHEN enabled = 0 THEN 1 END),
           |count(CASE WHEN guard = 0 THEN 1 END), count(CASE WHEN guard = 1 THEN 1 END),
           |count(CASE WHEN guard = -1 THEN 1 END) FROM $db.sample""".stripMargin).head()
      val (total, enabled0, guard0, guard1, guardNeg) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      check(total == csv.totalRows, s"rows $total, expected ${csv.totalRows}")
      check(enabled0 == csv.nameGt3000, s"enabled=0 on $enabled0 rows, expected ${csv.nameGt3000}")
      check(guard0 == enabled0, s"guard=0 on $guard0 rows, enabled=0 on $enabled0")
      check(guard1 == total - guard0, s"guard=1 on $guard1 rows, expected ${total - guard0}")
      check(guardNeg == 0, s"$guardNeg rows kept guard=-1")
      check(ledgerRows(ledger) == md5, s"ledger ${ledgerRows(ledger)}, expected $md5")
    }

    def readTable: (String, String, Long) = (s"$db.sample", "name", csv.totalRows)
    def storedBytes: Long = Disk.dataFiles(warehouse(db)).map(Files.size).sum
    def cleanup(): Unit = drop(db, dir)
  }
}

/** A long ledger: set-up applies H small versions through `migrate`; each
  * op is a `migrate` with nothing pending. */
final class NoopOnHistory(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  private var db: String = _
  private var home, ledger: Path = _
  private var history: SmallVersions = _
  val warmupOps = 2

  def setup(round: Int): Unit = {
    if (db != null) drop(db, home.getParent)
    db = s"history_$round"
    home = work.resolve(s"history-$round").resolve("migrations")
    ledger = home.getParent.resolve("ledger")
    history = Inputs.smallVersions(Workloads.HistoryVersions, seed, rewrites = false)
    val md5 = Inputs.stage(home, db, history.files)
    graft.migrator.Migrator.migrate(spark, db, home.toString, ledger.toString)
    check(ledgerRows(ledger) == md5, "history ledger does not match the history files")
    check(tableRows(db, history.rowsPerTable) == history.rowsPerTable, "history tables have wrong row counts")
  }

  def op(id: String): Op = new Op {
    private val before = (Disk.snapshot(ledger), Disk.snapshot(warehouse(db)))

    def run(migrate: Migrate): Unit = migrate(db, home, ledger)

    def verify(): Unit = {
      check(Disk.snapshot(ledger) == before._1, "a no-op migrate changed the ledger")
      check(Disk.snapshot(warehouse(db)) == before._2, "a no-op migrate touched a table")
    }

    def readTable: (String, String, Long) = {
      val t = largest(history.rowsPerTable)
      (s"$db.$t", "v", history.rowsPerTable(t))
    }
    def storedBytes: Long = Disk.dataFiles(warehouse(db)).map(Files.size).sum
    def cleanup(): Unit = ()
  }
}

/** B small versions applied by one `migrate` into a fresh database and
  * ledger per op. */
final class FreshBootstrap(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  private var versions: SmallVersions = _
  val warmupOps = 1

  def setup(round: Int): Unit =
    versions = Inputs.smallVersions(Workloads.BootstrapVersions, seed, rewrites = true)

  def op(id: String): Op = new Op {
    private val db = s"boot_$id"
    private val dir = work.resolve(s"op-$id")
    private val home = dir.resolve("migrations")
    private val ledger = dir.resolve("ledger")
    private val md5 = Inputs.stage(home, db, versions.files)

    def run(migrate: Migrate): Unit = migrate(db, home, ledger)

    def verify(): Unit = {
      check(ledgerRows(ledger) == md5, s"ledger does not hold the ${md5.size} staged versions")
      val rows = tableRows(db, versions.rowsPerTable)
      check(rows == versions.rowsPerTable, s"table rows $rows, expected ${versions.rowsPerTable}")
    }

    def readTable: (String, String, Long) = {
      val t = largest(versions.rowsPerTable)
      (s"$db.$t", "v", versions.rowsPerTable(t))
    }
    def storedBytes: Long = Disk.dataFiles(warehouse(db)).map(Files.size).sum
    def cleanup(): Unit = drop(db, dir)
  }
}
