package migbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val dir: Path = Files.createTempDirectory("migbench_loop_")
  private lazy val spark: SparkSession = Main.session(dir)

  override def afterAll(): Unit = {
    spark.stop()
    Disk.delete(dir)
  }

  /** Two versions per op: a CREATE and a second file given by `second`. */
  private final class TwoVersions(second: String, expectedLedgerRows: Int) extends Workload(spark, dir, 1L) {
    def setup(round: Int): Unit = ()
    def warmupOps: Int = 0
    def op(id: String): Op = new Op {
      private val db = s"loop_$id"
      private val opDir = work.resolve(s"op-$id")
      Inputs.stage(opDir.resolve("m"), db, Seq(
        MigrationFile("V1__create.sql", "CREATE TABLE {db}.t(id UInt32, v UInt32) ENGINE MergeTree"),
        MigrationFile("V2__second.sql", second)))
      def run(migrate: Migrate): Unit = migrate(db, opDir.resolve("m"), opDir.resolve("ledger"))
      def verify(): Unit = check(ledgerRows(opDir.resolve("ledger")).size == expectedLedgerRows, "ledger rows")
      def readTable: (String, String, Long) = (s"$db.t", "v", 2L)
      def storedBytes: Long = 0L
      def cleanup(): Unit = drop(db, opDir)
    }
  }

  private val fill = "INSERT INTO {db}.t (id, v) FORMAT Values (1, 1), (2, 2)"

  test("a good op is one sample") {
    val s = Main.measure(spark, new TwoVersions(fill, 2), 0.0, None)
    assert((s.attempted, s.failed, s.ops.length) == (1, 0, 1), s.errors)
  }

  test("a broken migration file is a failed op, not a sample") {
    val s = Main.measure(spark, new TwoVersions("ALTER TABLE {db}.missing ADD COLUMN x UInt32", 2), 0.0, None)
    assert((s.attempted, s.failed) == (1, 1))
    assert(s.ops.isEmpty && s.traced.isEmpty)
  }

  test("an op whose check fails is a failed op, not a sample") {
    val s = Main.measure(spark, new TwoVersions(fill, 3), 0.0, None)
    assert((s.attempted, s.failed) == (1, 1))
    assert(s.ops.isEmpty)
    assert(s.errors.head.contains("verification failed"))
  }

  test("a traced op passes the same checks and its spans cover the op") {
    val w = Workloads("fresh_bootstrap", spark, dir, 3L)
    w.setup(0)
    val t = new Tracer(spark)
    assert(Main.runOp(spark, w, "traced", Some(t)).isSuccess)
    val m = Layers.metrics(t, 1.0, 1.0).map { case (k, v, _) => k -> v }.toMap
    assert(m("trace.coverage") >= 0.9 && m("trace.coverage") <= 1.0, m)
    assert(m("ledger.appends") == Workloads.BootstrapVersions)
    assert(m("apply.versions") == Workloads.BootstrapVersions)
    assert(m("reconcile.pending") == Workloads.BootstrapVersions)
    assert(m("spark.jobs") > 0 && m("statements.count") >= Workloads.BootstrapVersions)
    assert(m("read.files_scanned") > 0)
  }
}
