package graft

import org.apache.spark.sql.SparkSession

/** The one way to start a session. Every session it returns carries the
  * invariants the catalog, the oracles and the migrator rely on:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *  - UTC session time zone (the NTZ cast in `EventOps.normalizeTs` is
  *    instant-preserving only under UTC);
  *  - `spark.sql.legacy.parquet.nanosAsLong`, so TIMESTAMP(NANOS)
  *    parquet columns read as long nanos;
  *  - `GraftExtensions` (native functions and the as-of strategy);
  *  - the UI off and WARN logging.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the JVM's available
  * processors. Per-caller settings (a warehouse dir, an extra catalog, a
  * memory fraction) go in as `conf` pairs, applied after the invariants.
  * A session without the extension is built by hand on purpose only
  * (NoExtensionSpec tests the degraded plans).
  */
object Sessions {

  def local(appName: String, cpus: Int = defaultCpus,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // set at context start, so the startup INFO lines are not printed
      .config("spark.log.level", "WARN")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // getOrCreate hands back an already-running session as it is, and
    // its extensions are fixed at creation: fail here, not later on a
    // fallback plan nobody asked for
    require(spark.catalog.functionExists("vec_dot"),
      "session lacks graft.functions.GraftExtensions (vec_dot does not resolve)")
    spark
  }

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
