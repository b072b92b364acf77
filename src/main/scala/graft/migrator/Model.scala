package graft.migrator

/** An on-disk migration file discovered by [[MigrationScan]].
  *
  * Mirrors the reference's in-flight migration set
  * (reference: clickhouse_migrate/migrate.py:84-86 — dict of
  * version/script/md5 built from a directory scan).
  */
final case class Migration(version: Int, script: String, md5: String)

