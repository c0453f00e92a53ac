package graft

import graft.operators.{TextDedup, VectorSim}
import org.apache.spark.sql.functions._

/** Unit coverage of the composed operators: dedup helpers, salted
  * joins, graph iterations and the vector-similarity kernels.
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("candidatePairs bucket-size cap drops a degenerate band bucket " +
       "(candidate count stays bounded, informative buckets survive)") {
    val degenerate = (1 to 100).map(i => (i.toLong, 0, "boilerplate"))
    val normal = Seq((500L, 1, "k2"), (501L, 1, "k2"))
    val buckets = (degenerate ++ normal).toDF("doc_id", "band", "key")
    // uncapped baseline: the degenerate bucket alone contributes
    // 100*99/2 pairs — the quadratic blowup the cap exists to prevent
    assert(TextDedup.candidatePairs(buckets,
      maxBucketSize = Int.MaxValue).count() == 4951L)
    val capped = TextDedup.candidatePairs(buckets, maxBucketSize = 10)
    assert(capped.as[(Long, Long)].collect().toSet == Set((500L, 501L)))
  }

  test("candidatePairs cap plans as a broadcast anti-join, never a window") {
    // the r3 regression shape: a count(*) OVER (PARTITION BY band, key)
    // cap sorted and materialized the full bucket stream twice (2.9x
    // slower). The cap must stay a pre-aggregated oversized-key set +
    // broadcast left-anti probe — pin the plan so it cannot come back.
    val buckets = (1 to 50).map(i => (i.toLong, i % 3, s"k${i % 5}"))
      .toDF("doc_id", "band", "key")
    val plan = TextDedup.candidatePairs(buckets, maxBucketSize = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window cap crept back:\n$plan")
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("shingles: fewer tokens than n yields no shingles, not a blowup") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(sh == Set((2L, "a b c"), (2L, "b c d")))
  }

  test("saltedJoin returns exactly the plain equi-join result and joins " +
       "on (key, salt)") {
    // heavy skew: 1000 rows on one key
    val skewed = ((1 to 1000).map(i => (42L, s"r$i")) ++
      Seq((7L, "x"), (9L, "y"))).toDF("k", "payload")
    val build = Seq((42L, "hot"), (7L, "warm"), (8L, "unmatched"))
      .toDF("bk", "name")
    val salted = graft.operators.SkewJoin.saltedJoin(skewed, build, "k", "bk")
    val plain = skewed.join(build, skewed("k") === build("bk"))
    assert(salted.count() == 1001)
    assert(salted.select("k", "payload", "bk", "name").except(
      plain.select("k", "payload", "bk", "name")).isEmpty)
    assert(plain.select("k", "payload", "bk", "name").except(
      salted.select("k", "payload", "bk", "name")).isEmpty)
    val planStr = salted.queryExecution.executedPlan.toString
    assert(planStr.contains("_salt"), "join must key on the salt too")
  }

  test("hotKeySaltedJoin equals the plain equi-join: only hot keys are " +
       "salted, cold keys take the plain path, degenerate cases hold") {
    val skewed = ((1 to 1000).map(i => (42L, s"r$i")) ++
      Seq((7L, "x"), (9L, "y"))).toDF("k", "payload")
    val build = Seq((42L, "hot"), (7L, "warm"), (8L, "unmatched"))
      .toDF("bk", "name")
    val plain = skewed.join(build, skewed("k") === build("bk"))
      .select("k", "payload", "bk", "name")
    // threshold 10: only key 42 is hot
    val hot = graft.operators.SkewJoin.hotKeySaltedJoin(
        skewed, build, "k", "bk", hotThreshold = 10)
      .select("k", "payload", "bk", "name")
    assert(hot.count() == 1001)
    assert(hot.except(plain).isEmpty && plain.except(hot).isEmpty)
    // threshold above every frequency: no hot keys — pure plain path
    val none = graft.operators.SkewJoin.hotKeySaltedJoin(
        skewed, build, "k", "bk", hotThreshold = 100000)
      .select("k", "payload", "bk", "name")
    assert(none.except(plain).isEmpty && plain.except(none).isEmpty)
  }

  test("connectedComponents: chain collapses to one component, separate " +
       "components stay separate, labels are per-component minima") {
    // chain 1-2-3-4, triangle 10-11-12 (with a redundant edge), pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id1", "id2")
    val cc = graft.operators.GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
    assert(cc.size == 9)
  }

  test("connectedComponents converges on a 100-node chain within the " +
       "default round budget (pointer jumping: log-diameter, not diameter)") {
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = graft.operators.GraphOps.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(cc.length == 100 && cc.forall(_._2 == 1L))
  }

  test("pagerank: rank mass is conserved each round (sums to 1), the " +
       "star center dominates, and symmetric leaves tie exactly") {
    // star: center 1 linked to leaves 2..9
    val star = (2L to 9L).map(i => (1L, i)).toDF("id1", "id2")
    val pr = graft.operators.GraphOps.pagerank(star, iterations = 5)
      .as[(Long, Double)].collect().toMap
    // undirected graph, no dangling mass: teleport + damped mass = 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // the center receives every leaf's full contribution
    assert(pr(1L) > pr(2L) * 4)
    // leaves are exchangeable — identical arithmetic, EXACTLY equal
    assert((3L to 9L).forall(i => pr(i) == pr(2L)))
  }

  test("driver-side hyperplane values match the SQL md5 derivation " +
       "(the oracle recomputes them via SQL)") {
    val sqlVals = spark.sql(
      """SELECT transform(sequence(0, 63), d ->
        |  cast((cast(conv(substring(md5(concat('hp3_', cast(d as string))), 1, 4), 16, 10) as bigint)
        |   % 1001 - 500) / 500.0 as double))""".stripMargin)
      .as[Seq[Double]].head()
    assert(sqlVals == VectorSim.hyperplaneValues(3, 64))
  }

  test("native graft_dot expression is registered and bit-identical to " +
       "the higher-order fold") {
    assert(spark.catalog.functionExists("graft_dot"),
      "GraftExtensions must register graft_dot in the test session")
    val df = Seq((Array(1.5, -2.25, 3.125), Array(0.5, 4.0, -1.0)))
      .toDF("a", "b")
    val native = df.selectExpr("graft_dot(a, b)").as[Double].head()
    val fold = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)).as[Double].head()
    assert(native == fold)
    assert(native == 1.5 * 0.5 + -2.25 * 4.0 + 3.125 * -1.0)
    // null array -> null out (BinaryExpression null-intolerance)
    val n = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("cosine fold is exact on known vectors") {
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0)), (Array(2.0, 0.0), Array(1.0, 0.0)))
      .toDF("a", "b")
    val out = df.select(VectorSim.cosine(col("a"), col("b"))).as[Double]
      .collect().toSeq
    assert(out == Seq(0.0, 1.0))
  }
}
