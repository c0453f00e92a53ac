package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkEntry

/** Scan-level pruning/pushdown proof over DECLARED queries (not toy
  * plans): a projection that reaches the parquet reader with the full
  * row width, or a selective predicate that stays above the scan, is
  * invisible in row-equality checks but dominates cost at 100 TB —
  * reading 6 columns of a 34-column lake is ~6x less IO, and a pushed
  * filter skips entire row groups via statistics. These assertions pin
  * those properties in CI.
  */
class ScanPruningSpec extends SparkSpec {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    (p match {
      case s: FileSourceScanExec => Seq(s)
      case _                     => Nil
    }) ++ children.flatMap(scans)
  }

  private def scansOf(name: String): Seq[FileSourceScanExec] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // executed plan (post-AQE), not just the compiled one
    scans(df.queryExecution.executedPlan)
  }

  test("text_tokens prunes the documents scan to the referenced columns") {
    val Seq(scan) = scansOf("text_tokens")
    val read = scan.requiredSchema.fieldNames.toSet
    assert(read == Set("doc_id", "text", "n_chars"),
      s"expected a 3-column read of the 5-column documents table, got $read")
  }

  test("round-6 queries prune their scans to the referenced columns") {
    // zorder: 2 of 11 lineitem columns
    scansOf("ingest_zorder").foreach { scan =>
      assert(scan.requiredSchema.fieldNames.toSet ==
        Set("l_partkey", "l_suppkey"),
        s"zorder should read exactly the 2 clustered keys")
    }
    // CMS: text only of the 5-column documents table
    scansOf("text_cms_heavy").foreach { scan =>
      assert(scan.requiredSchema.fieldNames.toSet == Set("text"))
    }
    // incremental agg: key + group + value of the 6-column orders table
    scansOf("delta_incr_agg").foreach { scan =>
      assert(scan.requiredSchema.fieldNames.toSet ==
        Set("o_orderkey", "o_orderstatus", "o_totalprice"))
    }
  }

  test("agg_sum_groupby reads only the grouping and aggregated columns") {
    val ss = scansOf("agg_sum_groupby")
    assert(ss.nonEmpty)
    ss.foreach { scan =>
      val read = scan.requiredSchema.fieldNames.toSet
      assert(!read.contains("l_comment") && read.size <= 6,
        s"lineitem scan should be column-pruned, got $read")
    }
  }

  test("the quantile sketch's bottom-k plans as TakeOrderedAndProject") {
    // the scaladoc's O(k)-per-task claim rests on this operator: each
    // partition keeps only its own k rows and the driver merges P×k —
    // a global Sort here would mean the whole corpus shuffles
    val df = SparkEntry.queries("text_quantile_sketch")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), s"global sort defeats the sketch:\n$plan")
  }

  test("the flagship delta scans only the two snapshot partitions") {
    val ss = scansOf("delta_updated")
    assert(ss.size >= 2)
    ss.foreach { scan =>
      val pf = scan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("importdate"),
        s"expected an importdate partition filter, got: $pf")
      val selected = scan.metrics.get("numPartitions").map(_.value)
      assert(selected.contains(1L),
        s"each side must list exactly its own partition, got $selected")
    }
  }
}
