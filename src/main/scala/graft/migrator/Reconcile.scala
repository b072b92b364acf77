package graft.migrator

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The reconciliation query — which migrations still need to run.
  *
  * The reference's `migrations_to_apply` (clickhouse_migrate/migrate.py:
  * 26-41): cast both sides' versions to int, full-outer join on `version`,
  * then split the joined rows into absconded / tampered / pending. Like the
  * reference (pandas, client-side), `migrate` reconciles on the driver:
  * [[toApply]] collects the ledger in one Spark job, with Spark's int
  * cast, and joins, guards and orders in plain Scala. The relational
  * functions ([[executionStat]] … [[relational]]) build the same query as
  * DataFrame plans for the `MigrationOps` catalog entries.
  */
object Reconcile {

  /** Error messages are observable behavior locked in by the reference's
    * tests (reference: tests/test_clickhouse_migration.py:33-51). */
  val MissingMsg =
    "Migrations have gone missing, your code base should not truncate migrations, use migrations to correct older migrations"
  val TamperedMsg =
    "Do not edit migrations once run, use migrations to correct older migrations"

  /** One reconcile input row; `version` is None where the int cast is null. */
  private final case class Entry(version: Option[Int], script: String, md5: String)

  /** Collects (version as int, script, md5), every column read by name. */
  private def entries(df: DataFrame): Seq[Entry] = incomingView(df).collect().toSeq.map(r =>
    Entry(Option(r.getAs[Integer]("version")).map(_.intValue), r.getAs[String]("script"), r.getAs[String]("md5")))

  /** `migrations_to_apply` on the driver, pending ordered by version
    * (reference: migrate.py:29-41,47). Guard order and messages follow
    * the reference; an empty ledger skips the guards. */
  private def reconcile(committed: Seq[Entry], incoming: Seq[Entry]): Seq[Entry] = {
    if (committed.nonEmpty && (incoming.isEmpty || incoming.size < committed.size))
      throw new AssertionError(MissingMsg)
    // the full outer join as (committed, incoming) pairs; null keys never match
    val byVersion = incoming.filter(_.version.isDefined).groupBy(_.version.get)
    val committedVersions = committed.flatMap(_.version).toSet
    val stat: Seq[(Option[Entry], Option[Entry])] = committed.flatMap { c =>
      val matched = c.version.toSeq.flatMap(v => byVersion.getOrElse(v, Nil))
      if (matched.isEmpty) Seq(Some(c) -> None) else matched.map(i => Some(c) -> Some(i))
    } ++ incoming.filterNot(_.version.exists(committedVersions)).map(i => None -> Some(i))
    def md5(side: Option[Entry]): String = side.map(_.md5).orNull
    if (stat.exists { case (c, i) => md5(c) != null && md5(i) == null })
      throw new AssertionError(MissingMsg)
    if (stat.exists { case (c, i) => md5(c) != null && md5(i) != null && md5(i) != md5(c) })
      throw new AssertionError(TamperedMsg)
    stat.collect { case (c, i) if md5(c) == null =>
      Entry(c.flatMap(_.version).orElse(i.flatMap(_.version)), i.map(_.script).orNull, md5(i))
    }.sortBy(_.version.fold(Long.MinValue)(_.toLong)) // Spark's ascending order: nulls first
  }

  /** The migrations `migrate` applies, in version order: the committed
    * ledger collected once, reconciled against the scanned files. */
  def toApply(committed: DataFrame, incoming: Seq[Migration]): Seq[Migration] =
    reconcile(entries(committed), incoming.map(m => Entry(Some(m.version), m.script, m.md5)))
      .map(e => Migration(e.version.get, e.script, e.md5))

  /** End-to-end `migrations_to_apply` over DataFrames
    * (reference: migrate.py:26-41): [[reconcile]] on the driver, pending
    * returned as a local, version-ordered relation (version int, script,
    * md5), so testing it for emptiness starts no job. */
  def migrationsToApply(committed: DataFrame, incoming: DataFrame): DataFrame =
    committed.sparkSession.createDataFrame(
      reconcile(entries(committed), entries(incoming))
        .map(e => Row(e.version.map(Int.box).orNull, e.script, e.md5)).asJava,
      StructType.fromDDL("version INT, script STRING, md5 STRING"))

  /** Committed-side projection with collision-avoiding aliases
    * (reference: migrate.py:27 — `SELECT version, script AS c_script, md5 AS c_md5`). */
  def committedView(committed: DataFrame): DataFrame = committed.select(
    col("version").cast("int").as("version"), col("script").as("c_script"), col("md5").as("c_md5"))

  private def incomingView(incoming: DataFrame): DataFrame =
    incoming.select(col("version").cast("int").as("version"), col("script"), col("md5"))

  /** The full-outer reconciliation join (reference: migrate.py:34). */
  def executionStat(committed: DataFrame, incoming: DataFrame): DataFrame =
    committedView(committed).join(incomingView(incoming), Seq("version"), "full_outer")

  /** Committed in the ledger but missing on disk (reference: migrate.py:35). */
  def absconded(stat: DataFrame): DataFrame =
    stat.filter(col("c_md5").isNotNull && col("md5").isNull)

  /** Committed but the on-disk bytes changed (reference: migrate.py:38). */
  def tampered(stat: DataFrame): DataFrame =
    stat.filter(col("c_md5").isNotNull && col("md5").isNotNull && col("md5") =!= col("c_md5"))

  /** On disk but never committed — the pending set (reference: migrate.py:41). */
  def pending(stat: DataFrame): DataFrame =
    stat.filter(col("c_md5").isNull).select("version", "script", "md5")

  /** `migrations_to_apply` as distributed Spark actions, guards included
    * (reference: migrate.py:26-41; messages at :31,:37,:40); pending is
    * returned unordered. The plan of the `reconcile_pending` catalog
    * entry; [[migrationsToApply]] computes the same result on the driver.
    *
    * `committed` must have columns (version, script, md5) — the caller
    * projects the ledger; `incoming` likewise.
    */
  def relational(committed: DataFrame, incoming: DataFrame): DataFrame = {
    // one job for both cardinalities (len(df) in the reference,
    // migrate.py:30): union-with-tag → one aggregation, not two counts
    val counts = committed.select(lit("c").as("side"))
      .union(incoming.select(lit("i").as("side")))
      .groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nCommitted = counts.getOrElse("c", 0L)
    val nIncoming = counts.getOrElse("i", 0L)
    if (nCommitted == 0) return incoming.select("version", "script", "md5")
    if (nIncoming == 0 || nIncoming < nCommitted)
      throw new AssertionError(MissingMsg)
    val stat = executionStat(committed, incoming)
    // both guards in ONE aggregation pass over the join (the reference
    // filters twice, migrate.py:35-40; at scale that is two shuffles)
    val guards = stat.agg(
      count(when(col("c_md5").isNotNull && col("md5").isNull, 1)).as("n_absconded"),
      count(when(col("c_md5").isNotNull && col("md5").isNotNull
        && col("md5") =!= col("c_md5"), 1)).as("n_tampered")).head()
    if (guards.getLong(0) > 0) throw new AssertionError(MissingMsg)
    if (guards.getLong(1) > 0) throw new AssertionError(TamperedMsg)
    pending(stat)
  }

  /** Idiomatic anti-join formulation of the pending set — equivalent
    * result, skips materializing the outer join (SURVEY §2.3 J1 note).
    * Preferred shape at scale: a left-anti join never widens rows. */
  def pendingAntiJoin(committed: DataFrame, incoming: DataFrame): DataFrame =
    incomingView(incoming).join(committedView(committed), Seq("version"), "left_anti")
}
