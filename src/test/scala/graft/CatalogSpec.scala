package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog hygiene: silent-failure guards for the driver contract.
  * A duplicate query name would be dropped by toMap without a trace;
  * an oracle keyed to a nonexistent query would silently never run.
  */
class CatalogSpec extends AnyFunSuite {

  private val queryKeys = Seq(
    ops.Relational.queries, ops.MigrationOps.queries, ops.DedupOps.queries,
    ops.SimilarityOps.queries, ops.TextOps.queries, ops.EventOps.queries,
    ops.MultimodalOps.queries, ops.LayoutOps.queries).flatten.map(_._1)

  private val oracleKeys = Seq(
    ops.Relational.oracles, ops.MigrationOps.oracles, ops.DedupOps.oracles,
    ops.SimilarityOps.oracles, ops.TextOps.oracles, ops.EventOps.oracles,
    ops.MultimodalOps.oracles, ops.LayoutOps.oracles).flatten.map(_._1)

  test("no duplicate query names across op modules") {
    val dupes = queryKeys.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query keys: ${dupes.mkString(", ")}")
    assert(SparkEntry.queries.size == queryKeys.size)
  }

  test("every oracle key names an existing query") {
    val orphans = oracleKeys.toSet -- queryKeys.toSet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.mkString(", ")}")
  }

  test("rows-only queries (no oracle) are the documented exceptions only") {
    val rowsOnly = queryKeys.toSet -- oracleKeys.toSet
    // the documented exact/approx twin policy: sketch-valued entries
    // are rows-only BY DESIGN (sketch internals are engine-specific),
    // each with an oracle-checked exact twin and a spec-bounded
    // accuracy contract — approx_distinct vs agg_distinct
    // (ApproxDistinctSpec), text_perplexity_bucket_approx vs
    // text_perplexity_bucket (PerplexityApproxSpec),
    // text_heavy_hitters_approx vs text_heavy_hitters (MgSketchSpec).
    // csv_ingest gained a real oracle in round 5 (DuckDB read_csv_auto).
    assert(rowsOnly == Set("approx_distinct", "text_perplexity_bucket_approx",
      "text_heavy_hitters_approx"),
      s"unexpected rows-only queries: ${rowsOnly.mkString(", ")}")
  }

  test("bench headline names are real queries") {
    val unknown = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"headline references unknown queries: $unknown")
  }

  test("bench records a query that throws as failed, never as a timing") {
    val samples = new Bench.Samples
    samples.time("ok")(())
    samples.time("boom")(throw new RuntimeException("query failed"))
    samples.time("boom")(())
    samples.time("dead")(throw new RuntimeException("query failed"))
    assert(samples.times("boom").size == 1 && !samples.times.contains("dead"))
    assert(samples.failed.toMap == Map("boom" -> 1, "dead" -> 1))
    val (detail, line) = Bench.render(samples, Nil, 2, "sf", "detail.json", None)
    for (json <- Seq(detail, line))
      assert(json.contains(""""failed":{"boom":1,"dead":1}"""), json)
    assert(line.contains(""""queries":{"ok":0.00,"boom":0.00}"""), line)
    assert(detail.contains(""""samples":{"ok":[0.000],"boom":[0.000]}"""), detail)
  }
}
