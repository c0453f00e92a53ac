package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Invariants of the third round-9 tranche beyond the oracle hash-compare:
  *
  *   - ingest_compaction's file-count contract: the fragmented lake holds
  *     many files per partition, the compacted one exactly the
  *     byte-budgeted count (1 at this scale), with zero row drift;
  *   - sql_pipe_syntax is PURE SYNTAX: its optimized plan is the same
  *     tree Catalyst builds for the classic nested form;
  *   - events_variant's typed extraction agrees row-for-row with the
  *     string-path get_json_object on the same data.
  */
class Round9cQueriesSpec extends SparkSpec {

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))

  private def partitionDirs(root: Path): Seq[Path] =
    Files.list(root).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("o_orderstatus="))

  test("ingest_compaction rewrites each fragmented partition to its " +
       "byte-budgeted file count without row drift") {
    SparkEntry.queries("ingest_compaction")(spark, sfDir).collect()
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft-ingest-v1-$key/compact")
    val frag = root.resolve("frag")
    val out = root.resolve("out")

    val fragCounts = partitionDirs(frag)
      .map(d => d.getFileName.toString -> parquetFiles(d).size).toMap
    val outCounts = partitionDirs(out)
      .map(d => d.getFileName.toString -> parquetFiles(d).size).toMap
    assert(fragCounts.keySet == outCounts.keySet,
      s"partition sets drifted: $fragCounts vs $outCounts")
    // the fixture fragments 16-way; every partition must actually have
    // been fragmented, and compaction must reach the computed budget
    // (1 file at this scale — partitions are far under 128 MB)
    fragCounts.foreach { case (p, n) =>
      assert(n >= 8, s"fixture failed to fragment $p: $n files")
    }
    outCounts.foreach { case (p, n) =>
      assert(n == 1, s"compaction left $p at $n files, budget is 1")
    }
    val fragRows = spark.read.parquet(frag.toString).count()
    val outRows = spark.read.parquet(out.toString).count()
    assert(fragRows == outRows, s"row drift: $fragRows -> $outRows")
  }

  test("compaction's multi-file plan is exact, not collision-dependent: " +
       "every partition lands at precisely its planned count") {
    // a tiny targetBytes forces nfiles > 1 per partition — the regime the
    // old (partitionCol, salt) hash-shuffle could silently under-deliver
    // in when two salts of one partition collided into the same task
    val root = Files.createTempDirectory("compact-exact")
    val src = root.resolve("src").toString
    Tables(spark, sfDir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(src)
    val out = root.resolve("out").toString
    val plan = graft.sources.Compact.compact(
      spark, src, out, "o_orderstatus", targetBytes = 4L << 10)
    assert(plan.values.exists(_ > 2),
      s"fixture too small to exercise multi-file partitions: $plan")
    val outCounts = partitionDirs(java.nio.file.Paths.get(out))
      .map(d => d.getFileName.toString.stripPrefix("o_orderstatus=") ->
        parquetFiles(d).size).toMap
    assert(outCounts == plan,
      s"file counts drifted from plan: $outCounts vs $plan")
    assert(spark.read.parquet(out).count() ==
      spark.read.parquet(src).count())
  }

  test("sql_pipe_syntax optimizes to the same plan as the classic nested " +
       "form — the pipe surface is syntax, not a second execution path") {
    val piped = SparkEntry.queries("sql_pipe_syntax")(spark, sfDir)
    val classic = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity < 25
        |GROUP BY 1, 2
        |HAVING count(*) > 100""".stripMargin)
    assert(piped.queryExecution.optimizedPlan.canonicalized ==
           classic.queryExecution.optimizedPlan.canonicalized,
      s"plans diverged:\n${piped.queryExecution.optimizedPlan}\n--- vs ---\n" +
        s"${classic.queryExecution.optimizedPlan}")
  }

  test("the DSv2 range source prunes columns, narrows the interval from " +
       "pushed id filters, and plans the requested split count") {
    val df = SparkEntry.queries("ingest_dsv2_pushdown")(spark, sfDir)
    df.collect()
    val planText = df.queryExecution.executedPlan.toString
    // filter pushdown narrowed the generated interval itself
    assert(planText.contains("GraftRange [10000, 200000)"),
      s"expected the narrowed interval in the scan description:\n$planText")
    // column pruning: `val` is never referenced, so the reader must not
    // materialize it
    assert(planText.contains("cols=") && !planText.contains("val"),
      s"expected a val-free pruned column set:\n$planText")
    // partition planning: the scan side parallelizes into the requested
    // 32 splits
    val scanParallelism = spark.read
      .format("graft.sources.dsv2.RangeSource")
      .option("end", "250000").option("slices", "32")
      .load()
      .where(col("id") >= 10000 && col("id") < 200000)
      .rdd.getNumPartitions
    assert(scanParallelism == 32, s"planned $scanParallelism splits")
    // and the fully-handled filters actually narrowed the data: max id
    // outside [10000, 200000) never appears
    val ids = df.collect().map(_.getLong(3))
    assert(ids.max < 200000 && ids.forall(_ >= 10000))
  }

  test("the DSv2 runtime group filter prunes fact partitions from the " +
       "dim's surviving keys — 2 of 16 groups planned") {
    graft.sources.dsv2.RangeGroupedScan.lastRuntimeKept = None
    val df = SparkEntry.queries("join_dpp_dsv2")(spark, sfDir)
    val rows = df.collect()
    // ASIA (grp 2) and EUROPE (grp 3): 12500 rows x 5 tags x 2 regions
    assert(rows.map(_.getLong(2)).sum == 25000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime filter planned on the fact scan:\n$plan")
    // and enumeration actually shrank: the scan planned only the two
    // groups the dim kept, before any task launched
    assert(graft.sources.dsv2.RangeGroupedScan.lastRuntimeKept ==
      Some(2))
  }

  test("limit pushdown declines once an aggregate is pushed: a limit on " +
       "aggregated output must not narrow the pre-aggregate interval") {
    // Spark offers pushLimit on the SAME builder after pushAggregation,
    // where it applies to the aggregated (one-row) output — interval
    // arithmetic there would corrupt the closed form (count => 5)
    val row = spark.read.format("graft.sources.dsv2.RangeSource")
      .option("end", "250000").load()
      .agg(count(col("id")).as("n"))
      .limit(5)
      .collect()(0)
    assert(row.getLong(0) == 250000L)
  }

  test("the DSv2 top-N pushdown narrows the scan to the last n positions " +
       "of the filtered interval — no sort over the bulk") {
    val df = SparkEntry.queries("ingest_dsv2_topn_pushdown")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // filter narrowed hi to 6 M, DESC top-100 narrowed lo to 6 M - 100
    assert(plan.contains("GraftRange [5999900, 6000000)"),
      s"top-N not pushed into the interval:\n$plan")
  }

  test("the DSv2 aggregate pushdown answers count/min/max from the " +
       "narrowed bounds — a one-row scan, no row materialization") {
    val df = SparkEntry.queries("ingest_dsv2_agg_pushdown")(spark, sfDir)
    val row = df.collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((39000000L, 1000000L, 39999999L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[count,min,max]"),
      s"aggregate not pushed:\n$plan")
    // complete pushdown: the 39M-row interval is answered by ONE
    // generated row — the scan's output is the aggregate itself
    assert(df.rdd.getNumPartitions == 1)
  }

  test("the storage-partitioned DSv2 join plans with ZERO exchanges: " +
       "reported key-grouped partitioning replaces the shuffle") {
    val df = SparkEntry.queries("join_spj_dsv2")(spark, sfDir)
    df.collect()
    // final adaptive plan only — AQE's toString repeats the tree under
    // "== Initial Plan ==", which would double-count
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the agg after the join may legitimately exchange on `tag`; the
    // JOIN itself must not: exactly one exchange in the whole plan
    val exchanges = "Exchange hash".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected only the post-join aggregation " +
      s"exchange, found $exchanges:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a co-partitioned join:\n$plan")
    // and the scans really reported key-grouped output
    assert(plan.contains("GraftRangeGrouped"), plan)
  }

  test("events_variant typed extraction agrees row-for-row with the " +
       "get_json_object string path") {
    val viaVariant = Tables(spark, sfDir, "events")
      .select(col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaString = Tables(spark, sfDir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaVariant == viaString)
  }
}
