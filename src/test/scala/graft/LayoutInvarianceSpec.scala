package graft

import org.apache.spark.sql.DataFrame

/** Partition-layout invariance for representative declared queries: the
  * same query run under different shuffle-partition counts must produce
  * IDENTICAL rows. On a cluster, partition count changes with executor
  * count and AQE coalescing — any result that moves with it (float
  * aggregation order, collect_list order, unstable top-k ties) is a
  * silent correctness bug at scale that a single-layout oracle check
  * cannot see. One query per determinism mechanism: decimal-exact sums,
  * hash-ranked sampling, rank tie-breaks, literal-centroid iteration,
  * LSH banding, in-aggregate sorting.
  */
class LayoutInvarianceSpec extends SparkSpec {

  private val names = Seq(
    "agg_avg_decimal",      // decimal-exact sums
    "cur_mix_weighted",     // hash-order quota fill
    "window_rank_topn",     // rank tie-breaks
    "emb_kmeans_lloyd",     // driver-collected literal centroids
    "doc_dedup_minhash",    // banded LSH + verify
    "agg_collect_sorted",   // sort inside the aggregate value
    "delta_incr_agg",       // incremental maintenance algebra
    "text_cms_heavy",       // sketch cells
    "doc_dedup_spans",      // span-hash grouping + gaps-and-islands merge
    "doc_dedup_simhash_hamming") // integer bit votes + pigeonhole bands

  private def rows(name: String): Seq[String] = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("query results are identical under different shuffle-partition " +
       "counts") {
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    try {
      names.foreach { name =>
        conf.set("spark.sql.shuffle.partitions", "3")
        val a = rows(name)
        conf.set("spark.sql.shuffle.partitions", "13")
        val b = rows(name)
        assert(a == b, s"$name: result moved with partition layout")
        assert(a.nonEmpty)
      }
    } finally conf.set("spark.sql.shuffle.partitions", orig)
  }
}
