package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract invariants that would otherwise only surface at
  * gate time: every declared query has a DuckDB oracle under the SAME
  * name (the repo's standing claim — no rows-only fallbacks), names are
  * well-formed, and the flagship entry is a declared query.
  */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle under the same name, and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphan oracles: ${(o -- q).toSeq.sorted}")
  }

  test("query names are snake_case and unique across family maps") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.forall(_.matches("[a-z0-9_]+")), "non-snake_case name")
    // Map ++ silently overwrites duplicate keys across family objects —
    // count the per-family totals against the merged map
    val perFamily = Seq(
      graft.queries.DeltaQueries.queries, graft.queries.LakeQueries.queries,
      graft.queries.RelationalQueries.queries,
      graft.queries.IngestQueries.queries,
      graft.queries.DedupQueries.queries, graft.queries.CurationQueries.queries,
      graft.queries.SimilarityQueries.queries, graft.queries.TextQueries.queries)
    assert(perFamily.map(_.size).sum == names.size,
      "a query name is declared in two family maps — one silently shadows " +
        "the other in SparkEntry.queries")
    // a duplicate key WITHIN one family's Map literal collapses before
    // any code can see it (caught live TWICE in r7: a second
    // events_funnel, then a second events_retention, each silently
    // replacing the original) — only an EXACT pin makes the silent
    // replacement fail loudly, because a duplicate nets the total one
    // short of what the author expects. Bump this when adding or
    // removing queries; a mismatch means a name collided.
    assert(names.size == 229,
      s"query count is ${names.size}, expected 229 — either bump this " +
        "pin for intentionally added/removed queries, or a duplicate " +
        "key inside a family map silently swallowed one")
  }

  test("oracle SQL never references the spark-only temp views") {
    // DuckDB reads the parquet tables directly; a view name that only
    // exists in the Spark session (trade_sym etc.) would fail at gate
    // time with a binder error
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("trade_sym"),
        s"$name oracle references a spark-only view")
    }
  }
}
