package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Invariants of the round-9 queries beyond the oracle's hash-compare:
  *
  *   - cur_decon_semantic finds exactly the injected leak pairs (every
  *     eval id divisible by 50 present in the corpus maps to train id+1
  *     at cosine ~1) and nothing below the threshold; its physical plan
  *     never shuffles the train side — the corpus is map-side probed
  *     against the broadcast eval suite, the shape that survives any
  *     train size;
  *   - text_perplexity_filter is self-consistent with an independent
  *     per-doc recomputation on a small slice, and its output is the
  *     fixed-size worst-k contract.
  */
class Round9QueriesSpec extends SparkSpec {

  test("cur_decon_semantic: every injected leak pair is flagged at cos ~ 1, " +
       "nothing else reaches the threshold on the random fixture") {
    val out = SparkEntry.queries("cur_decon_semantic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val present = Tables(spark, sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expectedLeaks = (0L until 1000L by 50L)
      .filter(id => present(id) && present(id + 1))
      .map(id => (id, id + 1)).toSet
    val flaggedPairs = out.map(t => (t._1, t._2)).toSet
    assert(expectedLeaks.subsetOf(flaggedPairs),
      s"missing injected leaks: ${expectedLeaks -- flaggedPairs}")
    // injected pairs are exact copies: cosine rounds to 1.0
    out.filter(t => expectedLeaks((t._1, t._2))).foreach { case (e, t, c) =>
      assert(c == 1.0, s"leak pair ($e,$t) cos6=$c, expected 1.0")
    }
    // random 64-dim embeddings cannot reach 0.999 by chance at this sf —
    // anything extra would mean the threshold or derivation drifted
    assert(flaggedPairs == expectedLeaks,
      s"unexpected pairs above threshold: ${flaggedPairs -- expectedLeaks}")
  }

  test("cur_decon_semantic: the train side is never shuffled — the only " +
       "exchange in the plan is the eval-suite broadcast") {
    val df = SparkEntry.queries("cur_decon_semantic")(spark, sfDir)
    df.collect() // finalize AQE
    val shuffles = allNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"expected a shuffle-free probe plan, found: ${shuffles.map(_.nodeName)}")
  }

  test("text_perplexity_filter: worst-k contract holds and scores match an " +
       "independent recomputation for the reported docs") {
    val out = SparkEntry.queries("text_perplexity_filter")(spark, sfDir)
    val rows = out.collect()
    assert(rows.length == 20, s"expected the 20 worst docs, got ${rows.length}")
    val ppls = rows.map(_.getAs[Double]("ppl6"))
    assert(ppls.sameElements(ppls.sortBy(-_)), "not sorted worst-first")
    assert(ppls.forall(p => p > 1.0 && java.lang.Double.isFinite(p)),
      "perplexity of an in-model doc must be finite and > 1")
    // independent recomputation of one reported doc's score from the
    // model derivation written directly against the fixture
    val docId = rows.head.getAs[Long]("doc_id")
    val d = 0.75
    val bg = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        split(graft.operators.TextDedup.normalize(col("text")), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("succ1"))
    val prec2 = c12.groupBy("w2").agg(count(lit(1)).as("prec2"))
    val nTypes = c12.count().toDouble
    val score = bg.where(col("doc_id") === docId)
      .join(c12, Seq("w1", "w2")).join(c1, "w1").join(prec2, "w2")
      .withColumn("pkn",
        greatest(col("c12") - lit(d), lit(0.0)) / col("c1") +
          (lit(d) * col("succ1") / col("c1")) * (col("prec2") / lit(nTypes)))
      .agg(exp(-avg(log(col("pkn")))).as("ppl")).head().getDouble(0)
    val reported = rows.head.getAs[Double]("ppl6")
    assert(math.abs(score - reported) < 1e-4,
      s"doc $docId: recomputed ppl $score vs reported $reported")
  }
}
