package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
import org.apache.spark.sql.functions._

/** Invariants of the round-8 queries beyond the oracle's hash-compare:
  *   - the incremental IVF index merge never re-scans history vectors —
  *     the history side enters the plan as the checkpointed index RDD,
  *     and the only parquet scan of `embeddings` is the new delivery;
  *   - graph_pagerank_large (the forced big-|V| path) plans no
  *     broadcast hint anywhere — the rank table shuffle-joins, which is
  *     the shape that has no per-executor |V| memory ceiling.
  */
class Round8QueriesSpec extends SparkSpec {
  import spark.implicits._

  test("sim_index_incremental: history vectors are never re-scanned — " +
       "one parquet scan (the new delivery), history rides in as the " +
       "checkpointed index RDD") {
    val df = graft.queries.SimilarityQueries.queries("sim_index_incremental")(
      spark, sfDir)
    val nodes = allNodes(df.queryExecution.executedPlan)
    val parquetScans = nodes.collect { case s: FileSourceScanExec => s }
    assert(parquetScans.size == 1,
      s"expected exactly 1 parquet scan (new side), got " +
        s"${parquetScans.size}:\n${df.queryExecution.executedPlan}")
    val rddScans = nodes.collect { case s: RDDScanExec => s }
    assert(rddScans.nonEmpty,
      "history index must enter the plan as a checkpointed RDD scan")
    // the merged index is complete: every corpus vector is counted in
    // exactly one cell, and n_new counts exactly the new delivery
    val (nVecs, nNew) = df.agg(sum("n_vecs"), sum("n_new"))
      .as[(Long, Long)].head()
    val corpus = Tables(spark, sfDir, "embeddings")
    assert(nVecs == corpus.count(), "every vector lands in exactly one cell")
    assert(nNew == corpus.where(col("vec_id") % 7 === 0).count(),
      "n_new must count exactly the new delivery")
  }

  test("graph_pagerank_large: the forced big-|V| path plans no " +
       "broadcast hint and ranks match graph_pagerank exactly") {
    val large = graft.queries.RelationalQueries.queries("graph_pagerank_large")(
      spark, sfDir)
    val hints = large.queryExecution.analyzed.collect {
      case h: ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"big-|V| path must not hint any broadcast: $hints")
    // same graph, same arithmetic (DECIMAL(28,18) contribution sums) —
    // the physical rank-join strategy cannot move a digit
    val small = graft.queries.RelationalQueries.queries("graph_pagerank")(
      spark, sfDir)
    val a = large.as[(Long, Double)].collect()
    val b = small.as[(Long, Double)].collect()
    assert(a.sameElements(b),
      "shuffle-join rank path must reproduce the broadcast path exactly")
  }
}
