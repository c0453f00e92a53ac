package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Broad relational-operator coverage (SURVEY.md §2.4 — the categories the
  * engine grows beyond the reference's two queries). Every query is paired
  * with an equivalent DuckDB oracle.
  *
  * Float determinism: raw `sum(double)` is order-dependent, so any money
  * aggregation goes through exact decimal arithmetic
  * (`cast → DECIMAL(18,2) → sum → cast DOUBLE`) in BOTH engines — the result
  * is bit-identical regardless of partitioning or merge order. This is also
  * the right call at 100 TB: partial aggregation (map-side combine) stays
  * enabled because decimal sums are associative.
  */
object RelationalQueries {

  /** Exact, order-independent money sum: decimal in, double out. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** One SQL text, two engines — its own oracle. */
  private val lateralTopnSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 1
      |) t
      |WHERE c.c_nationkey = 7""".stripMargin

  /** One SQL text, two engines: the recursive-BFS query is its own
    * oracle (modulo DuckDB needing no view registration). Hop cap 4
    * bounds the un-deduplicated path enumeration; min() per node turns
    * paths into distances.
    */
  private val recursiveBfsSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
      |         greatest(c.c_nationkey, s.s_nationkey) AS v,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |), agg AS (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
      |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg),
      |edges AS (SELECT u, v FROM agg, tot
      |          WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw),
      |sym AS (SELECT u AS src, v AS dst FROM edges
      |        UNION SELECT v, u FROM edges),
      |seed AS (SELECT min(src) AS s0 FROM sym),
      |bfs(node, hops) AS (
      |  SELECT s0, 0 FROM seed
      |  UNION ALL
      |  SELECT s.dst, b.hops + 1
      |  FROM bfs b JOIN sym s ON s.src = b.node
      |  WHERE b.hops < 4
      |)
      |SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM bfs GROUP BY 1""".stripMargin

  /** Nation-level trade graph shared by `graph_triangles` and
    * `graph_label_prop`: the heavy distributed step is folding the fact
    * tables to per-nation-pair trade totals (partial-agg'd, one shuffle
    * on the pair); an edge is "trade above the mean pair volume", kept
    * multiplication-exact over DECIMAL with explicitly bounded precision
    * (np ≤ |nations|² ≤ 625 ⇒ DECIMAL(32,2)·DECIMAL(4,0) never
    * overflows; an unbounded product would silently NULL on Spark and
    * error on DuckDB). Orientation u < v.
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    tradeEdgesWeighted(s, dir).select("u", "v")

  /** [[tradeEdges]] with the per-pair trade total retained — the weight
    * for `graph_shortest_path` (same above-mean edge set, so the two
    * views of the graph agree).
    *
    * Staged once per (app, corpus) like [[custSuppEdges]]: the 4-table
    * lineitem⋈supplier⋈orders⋈customer fold is the dominant cost of
    * every consumer (triangles, label_prop, kcore, adamic_adar,
    * shortest_path — five queries re-derived it), while the edge list
    * itself is entity-graph sized (≤ |nations|² pairs). Derive the
    * graph once, run every algorithm on it — the same stage/iterate
    * split as the pagerank graph. The derivation is deterministic
    * (exact DECIMAL sums, multiplication-exact threshold), so staging
    * cannot move a result.
    */
  private val tradeEdgeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Monotonic suffix for sql_recursive_bfs's per-execution temp view. */
  private val bfsViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def tradeEdgesWeighted(s: SparkSession, dir: String): DataFrame = {
    tradeEdgeCache.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      tradeEdgesWeightedDerive(s, dir).localCheckpoint()
    })
  }

  private[graft] def tradeEdgesWeightedDerive(s: SparkSession, dir: String)
      : DataFrame = {
    val pairs = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("vl"))
      .join(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("sn")),
        col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("cn")),
        col("o_custkey") === col("c_custkey"))
      .where(col("cn") =!= col("sn"))
      .select(least(col("cn"), col("sn")).as("u"),
        greatest(col("cn"), col("sn")).as("v"), col("vl"))
    val agg = pairs.groupBy("u", "v").agg(sum("vl").as("w"))
    val tot = agg.agg(sum("w").as("tw"), count(lit(1)).as("np"))
    agg.crossJoin(broadcast(tot))
      .where(col("w").cast(DecimalType(32, 2)) *
        col("np").cast(DecimalType(4, 0)) > col("tw"))
      .select("u", "v", "w")
  }

  /** Customer–supplier bipartite edge list shared by `graph_pagerank`
    * and `graph_pagerank_large` (identical derivation in both): the
    * lineitem⋈orders fold + distinct is the dominant run-1 cost of
    * either query, so it runs ONCE per (app, corpus) and is
    * localCheckpoint'd — the `sql_recursive_bfs` materialization
    * precedent, app-scoped like the similarity-index caches. Both the
    * broadcast-rank and the shuffle-rank pagerank then start from the
    * same in-memory edge blocks; at 100 TB this is "derive the graph
    * once, iterate on it many times", which is how every production
    * graph pipeline stages its edges.
    */
  private val custSuppEdgeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def custSuppEdges(s: SparkSession, dir: String): DataFrame = {
    custSuppEdgeCache.getOrElseUpdate(
      (s.sparkContext.applicationId, dir), {
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("id1"),
          (col("l_suppkey") + 1000000L).as("id2"))
        .distinct()
        .localCheckpoint()
    })
  }

  /** The STAGED pagerank graph per rank-distribution mode
    * ([[graft.operators.GraphOps.PreparedPagerank]]): degree-joined,
    * pre-partitioned edges + uniform pr0, built once per (app, corpus,
    * mode) on top of [[custSuppEdges]]. A warm pagerank run is then
    * ONLY the five chained power-iteration rounds plus the top-20 —
    * the stage/iterate split of a production graph pipeline.
    */
  private val preparedPagerankCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Boolean),
      graft.operators.GraphOps.PreparedPagerank]

  private def preparedPagerank(s: SparkSession, dir: String,
                               broadcastRanks: Boolean)
      : graft.operators.GraphOps.PreparedPagerank = {
    preparedPagerankCache.getOrElseUpdate(
      (s.sparkContext.applicationId, dir, broadcastRanks), {
      graft.operators.GraphOps.preparePagerank(custSuppEdges(s, dir),
        edgesDistinct = true,
        rankBroadcastMaxNodes = if (broadcastRanks) 10L * 1000 * 1000 else 0L)
    })
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- aggregation ----
    "agg_sum_groupby" -> ((s, dir) =>
      t(s, dir, "lineitem")
        // tz-independent literal: resolved under spark.sql.session.timeZone
        // (UTC), matching DuckDB's naive TIMESTAMP — not the JVM default TZ.
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    "agg_count_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))),

    "agg_min_max" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"),
          min("o_orderdate").as("first_date"),
          max("o_orderdate").as("last_date"))),

    "agg_avg_decimal" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          (sum(col("o_totalprice").cast(DecimalType(18, 2))) /
           count(lit(1)).cast(DecimalType(18, 0)))
            .cast(DecimalType(18, 6)).cast("double").as("avg_price"))),

    "agg_pivot_conditional" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_filled"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_pending"))),

    // ---- grouping sets ----
    "agg_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))),

    "agg_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))),

    // explicit GROUPING SETS (distinct from rollup/cube: arbitrary set
    // list), via SQL on a temp view
    "agg_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }),

    // exact percentiles (percentile_disc is order-statistic exact, so
    // engine-portable — no approx sketch divergence)
    "agg_percentile" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("median_price"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p90_price"))),

    // robust per-group outlier detection via MEDIAN ABSOLUTE DEVIATION —
    // the DQ screen that survives the outliers it hunts (mean/stddev
    // z-scores are dragged by the very tail being flagged; the
    // median/MAD pair is 50%-breakdown robust). percentile_disc picks
    // actual data values (no interpolation), so med/mad/deviations are
    // exact doubles on both engines and the 3·1.4826·MAD cut is
    // reproducible. Cost shape: two grouped exact medians = two full
    // sorts-by-group of (status, price) pairs plus broadcast joins of
    // the per-group scalars — the exact-median contract; at 100 TB the
    // one-pass alternative is the mergeable quantile sketch
    // (text_quantile_sketch's machinery) at a bounded error.
    "agg_outlier_mad" -> ((s, dir) => {
      val med = t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("med"))
      val dev = t(s, dir, "orders").join(broadcast(med), "o_orderstatus")
        .withColumn("dev", abs(col("o_totalprice") - col("med")))
      val mad = dev.groupBy("o_orderstatus")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
          .as("mad"))
      dev.join(broadcast(mad), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3 * 1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          round(max(col("med")), 2).as("med2"),
          round(max(col("mad")), 2).as("mad2"))
    }),

    // Gini coefficient per group — the inequality summary of a value
    // distribution (0 = uniform, →1 = concentrated), computed by the
    // sorted-rank identity G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n with ranks
    // from a total order (price, then key — ties broken exactly).
    // Σ i·xᵢ and Σx are exact DECIMAL sums of decimal-cents values, so
    // the only floats are the two final divisions — engine-exact.
    // Shape: one window rank per group + one aggregate; the window
    // exchange and the aggregate share the group partitioning.
    "agg_gini" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("x"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("x"),
          col("o_orderkey"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("i").cast(DecimalType(12, 0))).as("six"))
        .select(col("o_orderstatus"), col("n"),
          round(lit(2.0) * col("six").cast("double") /
            (col("n").cast("double") * col("sx").cast("double")) -
            (col("n") + 1L).cast("double") / col("n").cast("double"), 6)
            .as("gini6"))
    }),

    // regex capture groups (F6's regex surface on the query path)
    "func_regex" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "([0-9]+)-(.*)", 1)
            .as("prio_num"),
          regexp_extract(col("o_orderpriority"), "([0-9]+)-(.*)", 2)
            .as("prio_name"))
        .where(col("o_orderkey") % 25 === 0)),

    // unpivot (wide -> long), the inverse of the pivot already covered
    "func_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 199 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")),

    // ---- joins ----
    // dimension chain: small tables broadcast (region 5, nation 25 rows)
    "join_dim_chain" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat  = broadcast(t(s, dir, "nation"))
      val reg  = broadcast(t(s, dir, "region"))
      cust
        .join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // the big fact-fact join: lineitem x orders, shuffle on orderkey
    "join_fact_fact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Pearson correlation from EXACT decimal co-moments — the numeric
    // breadth row done scale-correctly: Spark's built-in corr() streams
    // float co-moments whose value depends on aggregation order (not
    // reproducible run-to-run at cluster scale, let alone across
    // engines), so the five sums (Σx, Σy, Σxy, Σx², Σy²) are kept as
    // exact DECIMAL — order-independent, one shuffle of 5 cells per
    // group — and the closed-form combines them in ONE deterministic
    // double expression at the end. The (9,2)/(13,2) casts are LOSSLESS
    // (both columns carry 2-decimal currency/count values) and keep the
    // scale-4 product mantissas far inside DuckDB's int64 multiply
    // path; the precision-38 sums hold to ~10^34 scale-4 units — many
    // orders past 100 TB of lineitems.
    "agg_corr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(9, 2)).as("x"),
        col("l_extendedprice").cast(DecimalType(13, 2)).as("y"))
      def d(c: Column) = c.cast("double")
      li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            sqrt((col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              (col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
            .as("corr6"))
    }),

    // the salted-join CONTRACT at the gate surface: result is EXACTLY
    // the plain equi-join (salting only redistributes the shuffle), so
    // the oracle is the unsalted SQL join — hash equality proves the
    // hot-key split + salt + union machinery loses and duplicates
    // nothing. Plan-side skew evidence lives in AqeSkewJoinSpec (AQE
    // runtime splitting) and the SkewJoin scaladoc (manual salting for
    // keys AQE can't absorb: one key > an executor's worth of rows).
    "join_skew_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      graft.operators.SkewJoin
        .hotKeySaltedJoin(li, sup, "l_suppkey", "s_suppkey",
          hotThreshold = 100, buckets = 8)
        .groupBy("s_nationkey")
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // the same fact-fact join over bucketBy(key)-sorted tables: zero
    // exchange, zero sort in the plan (see BucketedTables scale notes);
    // result must equal join_fact_fact's oracle exactly
    "join_bucketed" -> ((s, dir) => {
      val (ot, lt) = graft.sources.BucketedTables.ensure(s, dir)
      val li = s.table(lt)
      val o  = s.table(ot)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "join_left_outer" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val o    = t(s, dir, "orders")
      cust.join(o, cust("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_cust"))
    }),

    "join_semi" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val big  = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),

    // anti-join against *filtered* orders so the result is non-empty at the
    // test scale (every customer has some order, not every customer has a
    // big one) — an empty result would make the oracle check vacuous.
    "join_anti" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val big  = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // non-equi (range) join: price-band lookup, broadcast nested loop
    "join_range_band" -> ((s, dir) => {
      val bands = s.createDataFrame(Seq(
        ("band0", 0.0, 500.0), ("band1", 500.0, 1000.0),
        ("band2", 1000.0, 1500.0), ("band3", 1500.0, 100000.0)))
        .toDF("band", "lo", "hi")
      t(s, dir, "part")
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("sum_price"))
    }),

    // extremal/conditional aggregates: max_by/min_by argmax with a
    // STRUCT ordering key (the tie-break is part of the key — bare
    // max_by on a non-unique value is nondeterministic), count_if and
    // the boolean reducers. All partial-agg'd single-pass.
    "agg_extremes" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("priciest_key"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_key"),
          count_if(col("o_totalprice") > 150000.0).as("n_large"),
          bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
          bool_and(col("o_totalprice") > 0.0).as("all_positive"))),

    // ---- window functions ----
    "window_rank_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    }),

    // RANGE frame (value-based, vs the row-based frames elsewhere):
    // per-key sum over all orders within 10000 price units below the
    // current one; plus ntile quartiles on the same ordering
    "window_range_frame" -> ((s, dir) => {
      // range frame: single numeric order key (ties share a band count,
      // so tie order can't affect it); ntile: explicit tiebreak for a
      // total order (ntile DOES depend on row order)
      val range = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice")).rangeBetween(-10000L, 0L)
      val ord = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          count(lit(1)).over(range).as("n_in_band"),
          ntile(4).over(ord).cast("long").as("quartile"))
    }),

    // distribution functions over a total order (explicit tiebreak —
    // percent_rank/cume_dist/nth_value all depend on row order):
    // rank-normalized position, cumulative share, and fixed-position
    // picks from an explicit whole-partition frame
    "window_distribution" -> ((s, dir) => {
      val ord = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .where(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(percent_rank().over(ord), 6).as("pr"),
          round(cume_dist().over(ord), 6).as("cd"),
          first(col("o_orderkey")).over(full).as("cheapest_key"),
          nth_value(col("o_orderkey"), 3).over(full).as("third_key"))
    }),

    "window_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
        .withColumn("order_seq",
          row_number().over(Window.partitionBy("o_custkey")
            .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)))
        .select("o_custkey", "o_orderkey", "order_seq", "running_spend")
    }),

    "window_lag_diff" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          (col("o_totalprice") - col("prev_price")).as("price_delta"))
    }),

    // ---- sort / limit ----
    "sort_limit_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // ---- data profiling ----
    // ANALYZE-style column profile: ONE aggregation pass computes every
    // column's stats (count/nulls/distinct/min/max), then an explode
    // stacks them into one row per column — never N scans for N columns.
    // The distinct counts are exact for the oracle; a 100 TB profile
    // swaps in approx_count_distinct with the same single-pass shape.
    "dq_table_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.agg(
        count(lit(1)).as("n"),
        count(col("o_custkey")).as("nn1"),
        countDistinct(col("o_custkey")).as("nd1"),
        min(col("o_custkey")).cast("string").as("mn1"),
        max(col("o_custkey")).cast("string").as("mx1"),
        count(col("o_orderstatus")).as("nn2"),
        countDistinct(col("o_orderstatus")).as("nd2"),
        min(col("o_orderstatus")).cast("string").as("mn2"),
        max(col("o_orderstatus")).cast("string").as("mx2"),
        count(col("o_orderpriority")).as("nn3"),
        countDistinct(col("o_orderpriority")).as("nd3"),
        min(col("o_orderpriority")).cast("string").as("mn3"),
        max(col("o_orderpriority")).cast("string").as("mx3"))
      def row(name: String, i: Int) = struct(
        lit(name).as("column"), col("n").as("n_rows"),
        col(s"nn$i").as("n_nonnull"), col(s"nd$i").as("n_distinct"),
        col(s"mn$i").as("min_s"), col(s"mx$i").as("max_s"))
      a.select(explode(array(
          row("o_custkey", 1), row("o_orderstatus", 2),
          row("o_orderpriority", 3))).as("p"))
        .select(col("p.*"))
    }),

    // ---- SQL-string surface ----
    // The reference's users write SQL strings (Query(sql, outputLoc));
    // this runs a TPC-H-Q3-shaped multi-join aggregation through
    // spark.sql over registered views — the same Catalyst plan the
    // DataFrame form gets (join reorder, pushdown, partial agg all
    // apply). Money math goes through per-row double multiply → exact
    // DECIMAL sum, so the result is merge-order independent.
    "sql_q3_shipping" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l.l_orderkey,
          |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          |  o.o_orderdate, o.o_orderpriority
          |FROM customer c
          |JOIN orders o ON c.c_custkey = o.o_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |WHERE c.c_mktsegment = 'BUILDING'
          |  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          |  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
          |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
          |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
          |LIMIT 10""".stripMargin)
    }),

    // TPC-H-Q1-shaped pricing summary through the same SQL surface: a
    // single wide aggregation — the map-side-combine workhorse (partial
    // aggs collapse each partition to |groups| rows before the one
    // 4-group shuffle). All money sums go per-row-double → exact DECIMAL
    // → one final double cast, so any aggregation order reproduces them.
    "sql_q1_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
          |  count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // TPC-H-Q18-shaped large-order lookup: an IN-subquery with HAVING —
    // Catalyst plans the IN as a left-semi join against the aggregated
    // subquery, so the filter costs one partial-agg'd groupBy plus a
    // semi join (no correlated re-execution). Decimal threshold compare
    // for engine parity.
    "sql_q18_large_orders" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT o_orderkey, o_orderdate, o_totalprice
          |FROM orders
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem
          |  GROUP BY l_orderkey
          |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)""".stripMargin)
    }),

    // TPC-H-Q17-shaped correlated scalar subquery: the per-group average
    // threshold — Catalyst DECORRELATES the inner per-partkey avg into
    // one aggregate + join (RewriteCorrelatedScalarSubquery), so the
    // inner query runs once as a partial-agg'd groupBy, never per outer
    // row. Quantities are integer-valued doubles (exact sums at any
    // aggregation order); money goes through exact DECIMAL; the 0.2*avg
    // threshold and /7.0 are IEEE-deterministic in both engines.
    "sql_q17_small_quantity" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT round(
          |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0,
          |    6) AS avg_yearly
          |FROM lineitem l
          |JOIN part p ON p.p_partkey = l.l_partkey
          |WHERE p.p_brand = 'Brand#13'
          |  AND l.l_quantity < (
          |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
    }),

    // PageRank over the customer-supplier trade graph (edges = distinct
    // (custkey, suppkey) pairs through lineitem ⋈ orders; supplier ids
    // offset into their own namespace). Five fixed power-iteration
    // rounds via operators/GraphOps.pagerank — the second iterative
    // distributed shape after connected components, with decimal-exact
    // per-round sums so the unrolled-SQL oracle matches bit-for-bit.
    // Top-20 by rank through TakeOrderedAndProject (no full sort).
    "graph_pagerank" -> ((s, dir) => {
      // edgesDistinct inside the staged graph: the pair list is
      // .distinct() in custSuppEdges and the two id namespaces are
      // disjoint (cust < 1M < supp offset), so no pair can appear in
      // both orientations — the symmetrization dedup is redundant
      graft.operators.GraphOps.pagerankIterate(
        preparedPagerank(s, dir, broadcastRanks = true), iterations = 5)
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
        .select(col("node"), round(col("pr"), 9).as("pr9"))
    }),

    // The SAME pagerank on the SAME graph, forced down the billion-node
    // code path: rankBroadcastMaxNodes = 0 makes every round
    // shuffle-join the rank table against the (src-clustered, reused
    // exchange) edge list instead of broadcasting it — the shape the
    // operator takes when |V| exceeds executor memory. GraphScaleSpec
    // proves the two paths rank-identical; this query keeps the
    // fallback honest under the ORACLE gate too (and Round8QueriesSpec
    // pins that the executed plan broadcasts no rank table). Ranks are
    // DECIMAL(28,18)-summed, so path choice cannot move a digit.
    "graph_pagerank_large" -> ((s, dir) => {
      graft.operators.GraphOps.pagerankIterate(
        preparedPagerank(s, dir, broadcastRanks = false), iterations = 5)
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
        .select(col("node"), round(col("pr"), 9).as("pr9"))
    }),

    // Triangle count over the nation-level trade graph — the third graph
    // shape next to the iterative two (connected components, PageRank):
    // a bounded 3-way self-join. The heavy, distributed part is the EDGE
    // DERIVATION (lineitem ⋈ supplier ⋈ orders ⋈ customer folded to
    // per-nation-pair trade totals — partial-agg'd, one shuffle on the
    // pair); the enumeration then runs on the AGGREGATED entity graph
    // (≤ |nations|² edges), which is why this composes at 100 TB — you
    // never self-join raw fact rows. Customer↔supplier links are
    // bipartite (no triangles), so nodes are NATIONS and an edge is
    // "trade above the mean pair volume": the threshold compare is kept
    // multiplication-exact (w·n > Σw over DECIMAL — no division, no
    // float tie) with EXPLICITLY bounded precision: np ≤ |nations|² ≤
    // 625 by construction (nation pairs, not fact rows), so
    // DECIMAL(32,2) · DECIMAL(4,0) = DECIMAL(37,2) can never overflow
    // while w (and tw) stay under 10^30 currency units — far beyond
    // 100 TB of lineitems. An unbounded w·np would silently NULL on
    // Spark (ANSI off) and error on DuckDB at overflow. Orientation
    // u < v makes each triangle appear exactly once as a < b < c.
    "graph_triangles" -> ((s, dir) => {
      val edges = tradeEdges(s, dir)
      edges.alias("e1")
        .join(edges.alias("e2"), col("e2.u") === col("e1.v"))
        .join(edges.alias("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    }),

    // Link prediction over the same trade graph — common-neighbor count
    // and Adamic–Adar score (Σ 1/ln(deg(w)) over shared neighbours w,
    // down-weighting promiscuous intermediaries) for every NON-edge
    // pair with at least one shared neighbour: the canonical graph-ML
    // feature op. Shape: one 2-path join on the aggregated entity graph
    // (the same bounded self-join discipline as graph_triangles — never
    // the raw fact rows), a broadcast-scale degree table, and a
    // left-anti against existing edges. AA terms are quantized to
    // DECIMAL(28,18) before the sum so aggregation order can't move the
    // score; any shared neighbour has deg ≥ 2, so ln(deg) > 0 by
    // construction.
    "graph_adamic_adar" -> ((s, dir) => {
      val edges = tradeEdges(s, dir)
      val sym = edges.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
      val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      val paths = sym.select(col("src").as("a"), col("dst").as("w"))
        .join(sym.select(col("src").as("w2"), col("dst").as("b")),
          col("w") === col("w2") && col("a") < col("b"))
        .join(deg.withColumnRenamed("src", "w3"), col("w3") === col("w"))
      val scored = paths.groupBy("a", "b")
        .agg(count(lit(1)).as("cn"),
          sum(expr(
            "CAST(CAST(1 AS DOUBLE) / ln(CAST(deg AS DOUBLE)) AS DECIMAL(28,18))"))
            .as("aa"))
      scored
        .join(edges.select(col("u").as("a"), col("v").as("b")),
          Seq("a", "b"), "left_anti")
        .select(col("a"), col("b"), col("cn"),
          round(col("aa").cast("double"), 6).as("aa6"))
    }),

    // Community detection over the same trade graph — deterministic
    // synchronous label propagation ([[graft.operators.GraphOps
    // .labelPropagation]]): 3 fixed rounds, most-frequent neighbour
    // label, min-label tie-break. The expensive part is the shared
    // tradeEdges fold; LPA itself runs on the aggregated entity graph
    // with one reused-exchange join + one bounded top-1 per round.
    // Output is the community profile (size + id range per community).
    "graph_label_prop" -> ((s, dir) => {
      val lp = graft.operators.GraphOps.labelPropagation(
        tradeEdges(s, dir)
          .select(col("u").as("id1"), col("v").as("id2")), rounds = 3)
      lp.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_node"), max("node").as("max_node"))
    }),

    // k-core decomposition (3 peels at k=3) — the graph-side quality
    // filter: nodes that survive iterated degree-threshold peeling form
    // the densely-connected core (weakly-attached periphery drops out
    // even if its raw degree was high before its neighbours left).
    // Degrees are counted in the INDUCED subgraph each round — both
    // endpoints must still be alive — which is what distinguishes
    // peeling from a one-shot degree filter. Fixed synchronous rounds
    // with exact integer degrees: the oracle unrolls them in SQL. Per
    // round: one semi-restricted edge pass + a partial-agg'd degree
    // count; the edge list is checkpointed once and reused.
    "graph_kcore" -> ((s, dir) => {
      val edges = tradeEdges(s, dir)
      val sym = edges.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
        .distinct().localCheckpoint()
      var alive = sym.select(col("src").as("node")).distinct()
      (1 to 3).foreach { _ =>
        alive = sym
          .join(alive.withColumnRenamed("node", "s"), col("src") === col("s"))
          .join(alive.withColumnRenamed("node", "d"), col("dst") === col("d"))
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 3)
          .select(col("src").as("node"))
      }
      sym.join(alive.withColumnRenamed("node", "s"), col("src") === col("s"))
        .join(alive.withColumnRenamed("node", "d"), col("dst") === col("d"))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    }),

    // Weighted single-source shortest paths over the trade graph —
    // distributed Bellman-Ford relaxation (graft.operators.GraphOps
    // .shortestPaths): after round k every node holds the EXACT minimum
    // path weight over ≤ k-hop paths (4 rounds here), DECIMAL(28,2)
    // path sums so the min is engine-immovable. Source = the smallest
    // node in the edge set (a one-scalar driver collect — bounded
    // metadata, like the partition-pair listing). The expensive step is
    // the shared tradeEdges fold; relaxation itself reuses ONE
    // src-clustered edge exchange across all rounds, and the frontier
    // is never broadcast (no per-executor |V| ceiling). The oracle
    // unrolls the same 4 relaxations in SQL.
    "graph_shortest_path" -> ((s, dir) => {
      val e = tradeEdgesWeighted(s, dir)
        .select(col("u").as("id1"), col("v").as("id2"), col("w"))
        .localCheckpoint()
      val source = e.agg(least(min("id1"), min("id2"))).first().getInt(0)
      graft.operators.GraphOps
        .shortestPaths(e, source = source.toLong, rounds = 4)
        .select(col("node").cast("long").as("node"),
          col("d").cast("double").as("dist"))
    }),

    // LATERAL correlated subquery (SQL:1999 / Spark 3.4+) — top-1-per-
    // group expressed the way analysts write it; Catalyst decorrelates
    // the LATERAL into a join + per-key limit rather than executing the
    // subquery per outer row. Same SQL text runs on DuckDB, so the
    // query is its own oracle. Restricted to one nation's customers so
    // the declared result is small; ordering carries an explicit
    // orderkey tie-break (doubles compare identically, ties are broken
    // totally).
    "sql_lateral_topn" -> ((s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(lateralTopnSql)
    }),

    // Deterministic ordered list aggregation — collect_list is
    // order-nondeterministic under shuffle (the classic silent-flake at
    // cluster scale), so the declared form sorts INSIDE the aggregate
    // value (sort_array) before serializing; DuckDB's list(x ORDER BY)
    // expresses the same contract. Emitted as CSV because the harness
    // hashes scalar cells.
    "agg_collect_sorted" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy((col("o_custkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"),
          array_join(
            transform(
              sort_array(collect_list(col("o_orderkey"))),
              x => x.cast("string")),
            ",").as("keys_csv"))),

    // SQL pipe syntax (Spark 4.x `|>`, the linear query form SQL:2023+
    // engines are converging on — BigQuery/ZetaSQL pipes, Spark 4):
    // each stage consumes the previous stage's output top-down, so the
    // filter→aggregate→having→filter chain reads in execution order.
    // Catalyst plans it identically to the nested classic form — the
    // oracle IS that classic form, and hash-equality pins that the pipe
    // surface is pure syntax, not a different (unoptimized) plan path.
    "sql_pipe_syntax" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """FROM lineitem
          ||> WHERE l_quantity < 25
          ||> AGGREGATE count(*) AS n,
          |     CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |       AS sum_qty
          |   GROUP BY l_returnflag, l_linestatus
          ||> WHERE n > 100""".stripMargin)
    }),

    // Named-parameter SQL (Spark 3.4+ `spark.sql(text, args)`) — the
    // engine-level answer to the reference's sprintf SQL templating
    // (SURVEY F5, agency-delta.go:35,40 splices partition values into
    // the query text with %s): parameters bind as typed literals in the
    // parser, never as string concatenation, so a hostile or
    // quote-bearing value cannot change the query shape. The oracle
    // inlines the same two values as literals — hash equality pins that
    // binding IS literal substitution, with injection structurally
    // impossible rather than carefully escaped.
    "sql_named_params" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS price_sum
          |FROM orders
          |WHERE o_orderstatus = :status AND o_totalprice > :floor
          |GROUP BY o_orderpriority""".stripMargin,
        Map("status" -> "O", "floor" -> 1000.0))
    }),

    // SQL scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN expr`) — the
    // declarative rung of the function ladder: the body is SQL, so
    // Catalyst INLINES it at analysis (constant-folds, pushes down,
    // codegens) instead of calling an opaque JVM closure per row — a
    // shared business formula without the codegen wall a Scala UDF
    // erects. Inputs go through DECIMAL so the discounted-revenue sum
    // is order-exact; the oracle inlines the same formula.
    "sql_udf" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
          |  p DECIMAL(18,2), d DECIMAL(18,2)) RETURNS DECIMAL(38,4)
          |RETURN p * (1 - d)""".stripMargin)
      s.sql(
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(disc_price(
          |    CAST(l_extendedprice AS DECIMAL(18,2)),
          |    CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM lineitem
          |GROUP BY l_returnflag""".stripMargin)
    }),

    // SQL table function (Spark 4 `CREATE FUNCTION ... RETURNS TABLE`)
    // joined LATERALly per outer row — the UDTF rung expressed
    // declaratively: the body is a correlated SELECT, so Catalyst
    // decorrelates it into a join + per-key rank exactly like the
    // hand-written LATERAL (sql_lateral_topn), rather than running a
    // subquery per row. The top-2-per-key is expressed as a
    // row_number() filter, NOT `ORDER BY ... LIMIT 2`: with a
    // correlated argument Spark 4.1 hoists the body's LIMIT out of the
    // correlation and applies it GLOBALLY before the join (found live
    // — the limit form silently returned 0 rows here while the same
    // function called with a constant argument was correct). The rank
    // form decorrelates faithfully; the oracle is the equivalent
    // inline LATERAL.
    "sql_udtf" -> ((s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION top_orders(ck BIGINT)
          |RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
          |RETURN SELECT o_orderkey, o_totalprice FROM (
          |  SELECT o_orderkey, o_totalprice,
          |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |      AS r
          |  FROM orders WHERE o_custkey = ck) WHERE r <= 2""".stripMargin)
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer c, LATERAL top_orders(c.c_custkey) t
          |WHERE c.c_nationkey = 7""".stripMargin)
    }),

    // Recursive-CTE BFS (Spark 4.x WITH RECURSIVE) — shortest hop count
    // from the smallest node of the trade graph, the SQL-surface member
    // of the graph family: the SAME SQL string runs on both engines, so
    // the oracle is the query text itself. The recursion is bounded by
    // an explicit hop cap (path enumeration without per-level dedup
    // blows up combinatorially — the cap is the SQL-level analogue of
    // the iteration bound every distributed BFS carries); the final
    // min() collapses paths to distances. The heavy work is again the
    // shared aggregated edge derivation, not the recursion.
    "sql_recursive_bfs" -> ((s, dir) => {
      // the symmetrized edge list is MATERIALIZED before the recursion:
      // a recursive CTE's step query is re-planned per level, and an
      // inline `sym` would re-derive the whole 4-table fact fold at
      // EVERY hop — at 100 TB that is the difference between one edge
      // derivation and depth× of them. localCheckpoint pins sym to
      // executor blocks; the recursion then joins a small in-memory
      // table per level. (The oracle inlines the same derivation — one
      // SQL text — because DuckDB plans its CTEs once.)
      //
      // The staged tradeEdges frame is bound to the session that BUILT
      // it, and a temp view registers in its DataFrame's session — so
      // the view registration and the recursive SQL must both run on
      // that owning session, or an isolated caller (a fresh
      // newSession per run) registers the view where its own
      // s.sql() cannot see it.
      val edges = tradeEdges(s, dir)
      val owner = edges.sparkSession
      // per-execution view name: the owner session is shared by every
      // execution in the app (it belongs to the staged artifact), so a
      // FIXED name could be clobbered by a concurrent execution between
      // registration and owner.sql
      val view = s"trade_sym_${bfsViewSeq.incrementAndGet()}"
      edges.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
        .distinct()
        .localCheckpoint()
        .createOrReplaceTempView(view)
      val out = owner.sql(
        s"""WITH RECURSIVE seed AS (SELECT min(src) AS s0 FROM $view),
          |bfs(node, hops) AS (
          |  SELECT s0, 0 FROM seed
          |  UNION ALL
          |  SELECT s.dst, b.hops + 1
          |  FROM bfs b JOIN $view s ON s.src = b.node
          |  WHERE b.hops < 4
          |)
          |SELECT node, CAST(min(hops) AS BIGINT) AS hops
          |FROM bfs GROUP BY 1""".stripMargin)
      // Dataset analysis is eager, so the resolved plan no longer needs
      // the catalog entry — drop it, or every execution leaks a pinned
      // checkpoint + catalog row into the app-lifetime owner session
      // (ADVICE r16). The checkpoint blocks themselves are released by
      // the ContextCleaner once `out` is unreachable.
      owner.catalog.dropTempView(view)
      out
    }),

    // TPC-H-Q22-shaped correlated NOT EXISTS + uncorrelated scalar
    // threshold: Catalyst rewrites the NOT EXISTS to a left-anti join
    // (RewritePredicateSubquery) and runs the scalar avg once as its own
    // tiny aggregate. The average is computed as exact-DECIMAL sum over
    // count so the threshold is identical in both engines regardless of
    // aggregation order (a float sum of non-integer balances would be
    // order-dependent in the last ULP).
    "sql_q22_no_orders" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_nationkey AS cntry, count(*) AS numcust,
          |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM customer c
          |WHERE c.c_acctbal > (
          |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |           / count(*)
          |    FROM customer c2 WHERE c2.c_acctbal > 0.0)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM orders o
          |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
          |GROUP BY c.c_nationkey""".stripMargin)
    }),

    // TPC-H-Q13-shaped customer-order distribution: the outer-join
    // aggregation composition — the join-side predicate lives IN the
    // LEFT JOIN condition (not a WHERE, which would drop the
    // null-extended rows), customers with no surviving orders aggregate
    // to c_count = 0 via count(col)'s null-skipping, then a second
    // count-of-counts rollup. Both aggregations partial-agg map-side;
    // the join shuffles on custkey once (the dim side broadcasts at
    // harness scale).
    "sql_q13_custdist" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_count, count(*) AS custdist
          |FROM (
          |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          |  FROM customer c
          |  LEFT OUTER JOIN orders o
          |    ON c.c_custkey = o.o_custkey
          |   AND o.o_orderpriority NOT LIKE '%URGENT%'
          |  GROUP BY c.c_custkey) c_orders
          |GROUP BY c_count""".stripMargin)
    }),

    // ---- set operations ----
    "set_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .union(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .distinct()
    }),

    "set_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),

    "set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),

    // ---- subqueries ----
    "subquery_scalar" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // exact decimal threshold => identical comparison in both engines;
      // 1.5x avg (as 3x/2) keeps the result non-empty at test scale
      val thresh = o.agg(
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * lit(3) /
         (count(lit(1)) * lit(2)).cast(DecimalType(18, 0)))
          .cast(DecimalType(18, 6)).as("thresh"))
      o.crossJoin(broadcast(thresh)) // 1-row scalar
        .filter(col("o_totalprice").cast(DecimalType(18, 6)) > col("thresh"))
        .select("o_orderkey", "o_totalprice")
    }),

    // ---- scalar functions ----
    "func_string" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_name"), 1, 8).as("prefix"),
          length(col("c_name")).cast("long").as("name_len"),
          concat(col("c_mktsegment"), lit("#"), col("c_name")).as("tagged"),
          col("c_name").like("%1%").as("has_one"),
          regexp_replace(col("c_name"), "[0-9]", "x").as("masked"))),

    "func_math" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(
          col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("floor_price"),
          ceil(col("o_totalprice")).cast("long").as("ceil_price"),
          abs(col("o_custkey") - lit(1000)).as("abs_diff"),
          sqrt(col("o_totalprice")).as("sqrt_price"),
          (col("o_orderkey") % 7).as("mod7"))),

    "func_date" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd").as("qtr_start"),
          datediff(lit("1999-12-31").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_eoc"))),

    "func_conditional" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") >= 300000.0, "large")
            .when(col("o_totalprice") >= 100000.0, "medium")
            .otherwise("small").as("size_class"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("NOT_P")).as("status_np"))),

    // Gram-inverted-index fuzzy JOIN — dirty-vs-clean record linkage,
    // the string-side analogue of LSH dedup: each side explodes into
    // character 4-grams, candidates pair only where a gram collides
    // (an inverted-index join, never all-pairs), exact Levenshtein ≤ 2
    // verifies candidates ONLY, and best-match selection picks the
    // (distance, id)-minimal survivor per dirty record via an integer
    // encoding portable to the oracle. The fixture derives 12-hex-char
    // entity names (md5 prefix — the uniform c_name prefix would
    // degenerate any gram block) and perturbs the dirty side with a
    // 2-char non-hex overlay (distance exactly 2, always inside the
    // gram recall window: 12 − 2·4 + ... a 2-char edit leaves ≥ 4
    // consecutive chars intact ⇒ ≥ 1 shared gram); every 97th record
    // is reversed instead — unmatchable, absent from the output (the
    // no-match path). Scale: gram length is the selectivity knob
    // (16^4 = 65 536 buckets for hex); candidate volume is sum of
    // per-bucket cross sizes, bounded the same way LSH bands are —
    // an oversized-bucket cap composes here for adversarial data.
    "join_fuzzy_gram" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"))
        .withColumn("name",
          expr("substring(md5(cast(id as string)), 1, 12)"))
      val dirty = base.select(col("id").as("did"),
        when(col("id") % 97 === 0, reverse(col("name")))
          .otherwise(expr(
            "concat(substring(name, 1, (id % 8) + 1), 'zz', " +
              "substring(name, (id % 8) + 4))")).as("dname"))
      // per-row array_distinct replaces the post-explode .distinct():
      // each side has ONE row per id, so duplicate (id, name, gram)
      // rows can only arise WITHIN a row's 9 grams — deduping inside
      // the array (map-side, codegen) yields the identical row set
      // without the full gram-stream exchange the old distinct paid
      // on each side
      def grams(src: String) = expr(
        s"explode(array_distinct(transform(sequence(1, 9), i -> substring($src, i, 4))))")
      // r17: the probe-side gram stream is REPARTITIONED on the join
      // key before the candidate join. r16 replaced the post-explode
      // .distinct()s with the per-row array_distinct (row-identical,
      // cheaper) but those distincts' exchanges had been the ONLY
      // thing spreading the candidate join + Levenshtein verify across
      // cores — the source here is one small parquet file, so without
      // an exchange the whole quadratic verify pipeline ran as ONE
      // task (measured at the 10× replica: 5.7 s in r15 → 37.1 s
      // single-task → 5.3 s with this exchange). One narrow (id, name,
      // gram) exchange buys back full parallelism at any core count;
      // at real scale the scan has many input splits and the exchange
      // is the join's co-partitioning anyway.
      val dg = dirty.select(col("did"), col("dname"), grams("dname").as("g"))
        .repartition(col("g"))
      val cg = base.select(col("id"), col("name"), grams("name").as("g"))
      val cand = dg.join(cg, Seq("g"))
        .select("did", "dname", "id", "name").distinct()
      cand
        .select(col("did"),
          levenshtein(col("dname"), col("name")).cast("long").as("dist"),
          col("id"))
        .where(col("dist") <= 2)
        .groupBy("did")
        .agg(min(col("dist") * lit(1000000000000L) + col("id")).as("best"))
        .select(col("did"),
          expr("best % 1000000000000").as("matched_id"),
          expr("best div 1000000000000").as("dist"))
    }),

    // blocked fuzzy matching — the record-linkage primitive the ABR
    // context implies (matching business names across registries):
    // candidates pair only INSIDE a blocking key (nation + the name
    // minus its 3-char tail), never all-pairs, then exact Levenshtein
    // ranks the survivors. Same scale discipline as the LSH dedup: the
    // key bounds every block quadratically in block size, not corpus
    // size (name length alone degenerates here — every fixture name is
    // 18 chars — the classic weak-blocking trap). Prefix blocking
    // trades recall for that bound (a pair differing early is unseen);
    // production linkage unions several blocking passes, exactly like
    // LSH bands.
    "func_edit_distance" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
          expr("substring(c_name, 1, length(c_name) - 3)").as("blk"))
      val a = c.select(col("c_custkey").as("id1"),
        col("c_nationkey").as("nk"), col("blk"), col("c_name").as("n1"))
      val b = c.select(col("c_custkey").as("id2"),
        col("c_nationkey").as("nk"), col("blk"), col("c_name").as("n2"))
      a.join(b, Seq("nk", "blk"))
        .where(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          levenshtein(col("n1"), col("n2")).cast("long").as("dist"))
        .where(col("dist") <= 2)
    }),

    // higher-order array lambdas — filter/exists/forall predicates and
    // the sequential aggregate() fold (deterministic here: integer
    // accumulation is associative, and the fold order is the array
    // order either way). All codegen'd expression work, no UDFs.
    "func_lambda" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          split(graft.operators.TextDedup.normalize(col("text")), " ").as("t"))
        .select(col("doc_id"),
          expr("size(filter(t, x -> length(x) > 4))")
            .cast("long").as("n_long_toks"),
          expr("exists(t, x -> x = 'the')").as("has_the"),
          expr("forall(t, x -> length(x) > 0)").as("all_nonempty"),
          expr("aggregate(t, 0L, (acc, x) -> acc + length(x))")
            .as("total_chars"))),

    // ---- distinct / projection ----
    "distinct_projection" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()),
  )

  /** Shared by graph_pagerank and graph_pagerank_large — the same five
    * rounds unrolled: each pr_i references pr_{i-1}, with the identical
    * (1.0 - 0.85)/n teleport term and the identical DECIMAL(28,18)
    * contribution sum.
    */
  // DuckDB inlines WITH-clause CTEs at every reference site by default; a
  // CTE referenced K times re-plans (and re-executes) its whole upstream
  // chain K times, which turns the unrolled-round graph oracles into an
  // exponential expression tree — observed as a 70 GiB spill at sf0.1 on
  // graph_kcore. MATERIALIZED pins each shared CTE to one execution; the
  // oracle stays plain DuckDB SQL, it just stops being exponential.
  private lazy val pagerankOracle: String = {
    val rounds = (1 to 5).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    (1.0 - 0.85) / n.n + 0.85 *
         |      CAST(sum(CAST(p.pr / e.deg AS DECIMAL(28,18))) AS DOUBLE) AS pr
         |  FROM oe e JOIN pr${i - 1} p ON p.node = e.src, n
         |  GROUP BY e.dst, n.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS id1, l_suppkey + 1000000 AS id2
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |), sym AS MATERIALIZED (
       |  SELECT id1 AS src, id2 AS dst FROM edges0
       |  UNION
       |  SELECT id2, id1 FROM edges0
       |), deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |oe AS MATERIALIZED (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d ON d.src = s.src),
       |n AS MATERIALIZED (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM sym),
       |pr0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0 / n.n AS pr FROM sym, n),
       |$rounds
       |SELECT node, round(pr, 9) AS pr9 FROM pr5
       |ORDER BY pr DESC, node LIMIT 20""".stripMargin
  }

  /** graph_shortest_path: the same 4 Bellman-Ford relaxations unrolled —
    * dk+1 = min over (dk ∪ one-hop extensions of dk), DECIMAL(28,2)
    * path sums, identical weighted-edge derivation to graph_triangles'
    * fragment with `w` retained.
    */
  private lazy val shortestPathOracle: String = {
    val rounds = (1 to 4).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, CAST(min(d) AS DECIMAL(28,2)) AS d FROM (
         |    SELECT node, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.d + e.w AS d
         |    FROM sym e JOIN d${i - 1} p ON p.node = e.src
         |  ) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
       |         greatest(c.c_nationkey, s.s_nationkey) AS v,
       |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
       |  FROM lineitem l
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  WHERE c.c_nationkey <> s.s_nationkey
       |), agg AS MATERIALIZED (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
       |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg),
       |edges AS MATERIALIZED (
       |  SELECT u, v, CAST(w AS DECIMAL(28,2)) AS w FROM agg, tot
       |  WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw),
       |sym AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM edges
       |        UNION ALL SELECT v, u, w FROM edges),
       |d0 AS (SELECT min(src) AS node, CAST(0 AS DECIMAL(28,2)) AS d FROM sym),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(d AS DOUBLE) AS dist
       |FROM d4""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "graph_shortest_path" -> shortestPathOracle,
    // the classic nested form of the pipe query — equality pins the
    // pipe surface as pure syntax
    "sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity < 25
        |GROUP BY 1, 2
        |HAVING count(*) > 100""".stripMargin,
    // the bound parameters inlined as literals — binding IS literal
    // substitution
    "sql_named_params" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_sum
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
        |GROUP BY o_orderpriority""".stripMargin,
    // the UDF body inlined — decimal arithmetic is exact in both engines
    "sql_udf" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,
    // the table function's body as an inline LATERAL subquery
    "sql_udtf" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_nationkey = 7""".stripMargin,
    "agg_sum_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "agg_min_max" ->
      """SELECT o_orderpriority, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "agg_avg_decimal" ->
      """SELECT o_orderstatus,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) / CAST(count(*) AS DECIMAL(18,0)) AS DECIMAL(18,6)) AS DOUBLE) AS avg_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "agg_pivot_conditional" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "join_dim_chain" ->
      """SELECT r_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "join_fact_fact" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderstatus,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_price,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "agg_gini" ->
      """WITH ranked AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS i
        |  FROM orders
        |), sums AS (
        |  SELECT o_orderstatus, count(*) AS n,
        |    sum(x) AS sx,
        |    sum(x * CAST(i AS DECIMAL(12,0))) AS six
        |  FROM ranked GROUP BY 1
        |)
        |SELECT o_orderstatus, CAST(n AS BIGINT) AS n,
        |  round(2.0 * CAST(six AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) -
        |    CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini6
        |FROM sums""".stripMargin,

    "agg_outlier_mad" ->
      """WITH med AS (
        |  SELECT o_orderstatus,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med
        |  FROM orders GROUP BY 1
        |), dev AS (
        |  SELECT o.o_orderstatus, m.med,
        |    abs(o.o_totalprice - m.med) AS dev
        |  FROM orders o JOIN med m USING (o_orderstatus)
        |), mad AS (
        |  SELECT o_orderstatus,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT d.o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN d.dev > 3 * 1.4826 * a.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  round(max(d.med), 2) AS med2, round(max(a.mad), 2) AS mad2
        |FROM dev d JOIN mad a USING (o_orderstatus)
        |GROUP BY 1""".stripMargin,

    "func_regex" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '([0-9]+)-(.*)', 1) AS prio_num,
        |  regexp_extract(o_orderpriority, '([0-9]+)-(.*)', 2) AS prio_name
        |FROM orders WHERE o_orderkey % 25 = 0""".stripMargin,
    "func_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 199 = 0)
        |UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "join_left_outer" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_cust
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,
    "join_range_band" ->
      """SELECT band, count(*) AS n_parts,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part
        |JOIN (VALUES ('band0', 0.0, 500.0), ('band1', 500.0, 1000.0),
        |             ('band2', 1000.0, 1500.0), ('band3', 1500.0, 100000.0))
        |  AS bands(band, lo, hi)
        |  ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band""".stripMargin,
    "window_rank_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "window_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_in_band,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    // DuckDB's arg_max can't take a composite (struct) ordering value,
    // so the argmax-with-tiebreak is expressed as rank-1 rows instead
    "agg_extremes" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS rmin
        |  FROM orders
        |), agg AS (
        |  SELECT o_orderstatus,
        |    CAST(sum(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
        |    bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |    bool_and(o_totalprice > 0.0) AS all_positive
        |  FROM orders GROUP BY 1)
        |SELECT a.o_orderstatus, mx.o_orderkey AS priciest_key,
        |  mn.o_orderkey AS cheapest_key, a.n_large, a.any_urgent,
        |  a.all_positive
        |FROM agg a
        |JOIN r mx ON mx.o_orderstatus = a.o_orderstatus AND mx.rmax = 1
        |JOIN r mn ON mn.o_orderstatus = a.o_orderstatus AND mn.rmin = 1""".stripMargin,
    "window_distribution" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(percent_rank() OVER ord, 6) AS pr,
        |  round(cume_dist() OVER ord, 6) AS cd,
        |  first_value(o_orderkey) OVER wfull AS cheapest_key,
        |  nth_value(o_orderkey, 3) OVER wfull AS third_key
        |FROM orders WHERE o_orderkey % 9 = 0
        |WINDOW ord AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey),
        |  wfull AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "window_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS order_seq,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,
    "window_lag_diff" ->
      """SELECT o_custkey, o_orderkey,
        |  o_totalprice - lag(o_totalprice, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS price_delta
        |FROM orders""".stripMargin,
    "sort_limit_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "dq_table_profile" ->
      """SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |  count(o_custkey) AS n_nonnull,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_s,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_s
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders""".stripMargin,
    "sql_q3_shipping" ->
      """SELECT l.l_orderkey,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        |LIMIT 10""".stripMargin,
    "sql_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "sql_q18_large_orders" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)""".stripMargin,
    "sql_q17_small_quantity" ->
      """SELECT round(
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0,
        |    6) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#13'
        |  AND l.l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "graph_pagerank" -> pagerankOracle,
    // identical oracle by design: the broadcast and shuffle-join rank
    // paths are the same arithmetic, only the physical plan differs
    "graph_pagerank_large" -> pagerankOracle,

    "graph_triangles" ->
      """WITH pairs AS (
        |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
        |         greatest(c.c_nationkey, s.s_nationkey) AS v,
        |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |), agg AS MATERIALIZED (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
        |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg),
        |edges AS MATERIALIZED (SELECT u, v FROM agg, tot
        |          WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw)
        |SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |FROM edges e1
        |JOIN edges e2 ON e2.u = e1.v
        |JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,

    "graph_adamic_adar" ->
      """WITH pairs AS (
        |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
        |         greatest(c.c_nationkey, s.s_nationkey) AS v,
        |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |), agg AS MATERIALIZED (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
        |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg),
        |edges AS MATERIALIZED (SELECT u, v FROM agg, tot
        |          WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw),
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
        |        UNION ALL SELECT v, u FROM edges),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
        |paths AS (
        |  SELECT e1.src AS a, e1.dst AS w, e2.dst AS b
        |  FROM sym e1 JOIN sym e2 ON e2.src = e1.dst AND e1.src < e2.dst
        |), scored AS (
        |  SELECT p.a, p.b, count(*) AS cn,
        |    sum(CAST(CAST(1 AS DOUBLE) / ln(CAST(d.deg AS DOUBLE))
        |        AS DECIMAL(28,18))) AS aa
        |  FROM paths p JOIN deg d ON d.src = p.w
        |  GROUP BY 1, 2
        |)
        |SELECT s.a, s.b, s.cn, round(CAST(s.aa AS DOUBLE), 6) AS aa6
        |FROM scored s
        |LEFT JOIN edges e ON e.u = s.a AND e.v = s.b
        |WHERE e.u IS NULL""".stripMargin,

    "sql_recursive_bfs" -> recursiveBfsSql,

    "sql_lateral_topn" -> lateralTopnSql,

    "graph_kcore" -> {
      def peel(prev: String, out: String) =
        s"""$out AS MATERIALIZED (
           |  SELECT e.src AS node FROM sym e
           |  JOIN $prev p ON p.node = e.src
           |  JOIN $prev q ON q.node = e.dst
           |  GROUP BY 1 HAVING count(*) >= 3)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         |         greatest(c.c_nationkey, s.s_nationkey) AS v,
         |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
         |  FROM lineitem l
         |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
         |  JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  JOIN customer c ON c.c_custkey = o.o_custkey
         |  WHERE c.c_nationkey <> s.s_nationkey
         |), agg AS MATERIALIZED (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
         |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg),
         |edges AS MATERIALIZED (SELECT u, v FROM agg, tot
         |          WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw),
         |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
         |        UNION SELECT v, u FROM edges),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
         |${peel("a0", "a1")},
         |${peel("a1", "a2")},
         |${peel("a2", "a3")}
         |SELECT e.src AS node, count(*) AS core_deg
         |FROM sym e
         |JOIN a3 p ON p.node = e.src
         |JOIN a3 q ON q.node = e.dst
         |GROUP BY 1""".stripMargin
    },

    "agg_collect_sorted" ->
      """SELECT o_custkey % 100 AS bucket, count(*) AS n,
        |  array_to_string(list(o_orderkey ORDER BY o_orderkey), ',')
        |    AS keys_csv
        |FROM orders GROUP BY 1""".stripMargin,

    "agg_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(9,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(13,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(9,2)) *
        |        CAST(l_extendedprice AS DECIMAL(13,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(9,2)) *
        |        CAST(l_quantity AS DECIMAL(9,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(13,2)) *
        |        CAST(l_extendedprice AS DECIMAL(13,2))) AS syy
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS corr6
        |FROM m""".stripMargin,

    "join_skew_salted" ->
      """SELECT s.s_nationkey,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |GROUP BY 1""".stripMargin,

    "graph_label_prop" -> {
      // 3 synchronous rounds unrolled: round i counts neighbour labels
      // from l{i-1} and keeps the (count DESC, lbl ASC) winner per node
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst, l.lbl, count(*) AS c
           |  FROM sym e JOIN l${i - 1} l ON l.node = e.src
           |  GROUP BY 1, 2
           |), l$i AS MATERIALIZED (
           |  SELECT dst AS node, lbl FROM (
           |    SELECT dst, lbl,
           |      row_number() OVER (PARTITION BY dst ORDER BY c DESC, lbl) AS rn
           |    FROM c$i) q
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
         |         greatest(c.c_nationkey, s.s_nationkey) AS v,
         |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS vl
         |  FROM lineitem l
         |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
         |  JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  JOIN customer c ON c.c_custkey = o.o_custkey
         |  WHERE c.c_nationkey <> s.s_nationkey
         |), agg AS MATERIALIZED (SELECT u, v, sum(vl) AS w FROM pairs GROUP BY 1, 2),
         |tot AS (SELECT sum(w) AS tw, count(*) AS np FROM agg),
         |edges AS MATERIALIZED (SELECT u, v FROM agg, tot
         |          WHERE CAST(w AS DECIMAL(32,2)) * CAST(np AS DECIMAL(4,0)) > tw),
         |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
         |        UNION SELECT v, u FROM edges),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |$rounds
         |SELECT lbl AS community, count(*) AS n_nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM l3 GROUP BY 1""".stripMargin
    },

    "sql_q22_no_orders" ->
      """SELECT c.c_nationkey AS cntry, count(*) AS numcust,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c.c_acctbal > (
        |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*)
        |    FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |GROUP BY c.c_nationkey""".stripMargin,
    "sql_q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |   AND o.o_orderpriority NOT LIKE '%URGENT%'
        |  GROUP BY c.c_custkey) c_orders
        |GROUP BY c_count""".stripMargin,
    "set_union" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,6)) >
        |  (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 3 / CAST(count(*) * 2 AS DECIMAL(18,0)) AS DECIMAL(18,6)) FROM orders)""".stripMargin,
    "func_string" ->
      """SELECT c_custkey, upper(c_name) AS uname, substring(c_name, 1, 8) AS prefix,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  c_mktsegment || '#' || c_name AS tagged,
        |  c_name LIKE '%1%' AS has_one,
        |  regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked
        |FROM customer""".stripMargin,
    "func_math" ->
      """SELECT o_orderkey,
        |  CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
        |  abs(o_custkey - 1000) AS abs_diff,
        |  sqrt(o_totalprice) AS sqrt_price,
        |  o_orderkey % 7 AS mod7
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin,
    "func_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
        |  strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS qtr_start,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-12-31') AS BIGINT) AS days_to_eoc
        |FROM orders WHERE o_orderkey % 50 = 0""".stripMargin,
    "func_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice >= 300000.0 THEN 'large'
        |       WHEN o_totalprice >= 100000.0 THEN 'medium'
        |       ELSE 'small' END AS size_class,
        |  coalesce(nullif(o_orderstatus, 'P'), 'NOT_P') AS status_np
        |FROM orders""".stripMargin,
    // same inverted-gram-index linkage; the encode/decode arithmetic
    // keeps best-match selection engine-portable
    "join_fuzzy_gram" ->
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |    substring(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name
        |  FROM customer
        |), dirty AS (
        |  SELECT id AS did,
        |    CASE WHEN id % 97 = 0 THEN reverse(name)
        |         ELSE substring(name, 1, CAST(id % 8 AS INTEGER) + 1)
        |           || 'zz'
        |           || substring(name, CAST(id % 8 AS INTEGER) + 4)
        |    END AS dname
        |  FROM base
        |), dg AS (
        |  SELECT DISTINCT did, dname,
        |    unnest(list_transform(range(1, 10),
        |      i -> substring(dname, CAST(i AS INTEGER), 4))) AS g
        |  FROM dirty
        |), cg AS (
        |  SELECT DISTINCT id, name,
        |    unnest(list_transform(range(1, 10),
        |      i -> substring(name, CAST(i AS INTEGER), 4))) AS g
        |  FROM base
        |), cand AS (
        |  SELECT DISTINCT did, dname, id, name FROM dg JOIN cg USING (g)
        |), ver AS (
        |  SELECT did, CAST(levenshtein(dname, name) AS BIGINT) AS dist, id
        |  FROM cand WHERE levenshtein(dname, name) <= 2
        |)
        |SELECT did,
        |  CAST(min(dist * 1000000000000 + id) % 1000000000000 AS BIGINT)
        |    AS matched_id,
        |  CAST(min(dist * 1000000000000 + id) // 1000000000000 AS BIGINT)
        |    AS dist
        |FROM ver GROUP BY did""".stripMargin,
    "func_edit_distance" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey AS nk, c_name,
        |    substring(c_name, 1, length(c_name) - 3) AS blk
        |  FROM customer
        |)
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a JOIN c b
        |  ON a.nk = b.nk AND a.blk = b.blk AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    "func_lambda" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(t, x -> length(x) > 4)) AS BIGINT) AS n_long_toks,
        |  len(list_filter(t, x -> x = 'the')) > 0 AS has_the,
        |  len(list_filter(t, x -> length(x) = 0)) = 0 AS all_nonempty,
        |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_chars
        |FROM (SELECT doc_id,
        |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |      FROM documents) q""".stripMargin,
    "distinct_projection" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
  )
}
