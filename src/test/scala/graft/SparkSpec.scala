package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val scratch: String = Files.createTempDirectory("graft_test_").toString

  lazy val spark: SparkSession = Sessions.local(getClass.getSimpleName, cpus = 4,
    conf = Seq("spark.sql.warehouse.dir" -> s"$scratch/warehouse"))

  /** A stand-in for the reference's `tests/migrations_seq/test.csv.gz`,
    * written once per suite: gzip CSV, header `id,name`, 100k rows, ids
    * 1..n, non-null UInt32 names of which about half are `> 3000`
    * (seeded, so every run sees the same file). */
  lazy val seqCsv: String = {
    val path = Paths.get(scratch, "migrations_seq", "test.csv.gz")
    Files.createDirectories(path.getParent)
    val rnd = new scala.util.Random(20260101L)
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(Files.newOutputStream(path)), "UTF-8"))
    try {
      out.print("id,name\n")
      (1 to 100000).foreach(id => out.print(s"$id,${rnd.nextInt(6000)}\n"))
    } finally out.close()
    path.toString
  }

  /** Streaming state must not outlive the session: StateStore's
    * maintenance task is JVM-wide and, left running, keeps calling the
    * stopped session's StateStoreCoordinator endpoint. */
  override def afterAll(): Unit = {
    spark.streams.active.foreach(_.stop())
    StateStore.stop()
    spark.stop()
    super.afterAll()
  }
}
