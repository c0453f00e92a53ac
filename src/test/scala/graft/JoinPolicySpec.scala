package graft

import org.apache.spark.sql.functions._

/** Join-strategy policy under production-shaped thresholds: small dims
  * must broadcast (no shuffle of the fact side), fact-fact must go
  * shuffle/sort-merge (a fact broadcast would OOM an executor at real
  * sizes). These assertions pin it in CI for the two canonical
  * shapes.
  */
class JoinPolicySpec extends SparkSpec {

  test("dim-chain join broadcasts the dims, never shuffles them") {
    val df = graft.queries.RelationalQueries
      .queries("join_dim_chain")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"dims must broadcast, not sort-merge:\n$plan")
  }

  test("fact-fact join sort-merges when broadcast is ruled out") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // at 100 TB neither fact fits an executor — model that by ruling
      // out broadcast; the planner must fall back to SMJ, not nested loop
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val o = Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
      val l = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoop"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
