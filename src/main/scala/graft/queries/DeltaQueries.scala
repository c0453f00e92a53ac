package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.SnapshotDelta
import graft.pipeline.AbrSchemas
import graft.sources.AgencyLake

/** Reference-parity delta queries (SURVEY.md §2.2 R1-R5), oracle-checked.
  *
  * The reference diffs two weekly `importdate` partitions of
  * `abr_weekly_agency_data` keyed on `pid` (agency-delta.go:126-246). The
  * driver testdata has no multi-snapshot table, so we derive two
  * deterministic snapshots from `orders`, materialize them as a real
  * `importdate=`-partitioned table ([[graft.sources.AgencyLake]]), and run
  * every delta over partition-pruned scans of that table. The derivation
  * is mirrored verbatim in the DuckDB oracle SQL:
  *
  *  - `previous` = orders with `o_orderkey % 13 <> 0`
  *  - `newest`   = orders with `o_orderkey % 17 <> 0`, with perturbations:
  *    status suffixed when `%5=0`, price +1 when `%7=3`, priority nulled
  *    when `%11=0` (exercises the 3-valued-logic corner of R3).
  *
  * Keys divisible by 13 (and not 17) are therefore "added"; keys divisible
  * by 17 (and not 13) are "removed"; perturbed keys present in both are
  * "updated".
  */
object DeltaQueries {

  /** Attributes compared by the change predicate — stands in for the
    * reference's 33-column list (agency-delta.go:168-200).
    */
  val compareAttrs: Seq[String] =
    Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  val key = "o_orderkey"

  def previous(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders").filter(col(key) % 13 =!= 0)

  def newest(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .filter(col(key) % 17 =!= 0)
      .withColumn("o_orderstatus",
        when(col(key) % 5 === 0, concat(col("o_orderstatus"), lit("U")))
          .otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col(key) % 7 === 3, col("o_totalprice") + lit(1.0d))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col(key) % 11 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))

  /** Shared oracle CTE prologue — must stay semantically identical to
    * `previous`/`newest` above.
    */
  private[queries] val snapshotCte =
    """WITH prev AS (
      |  SELECT * FROM orders WHERE o_orderkey % 13 <> 0
      |), newest AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus || 'U' ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate,
      |    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 17 <> 0
      |)""".stripMargin

  // ----- reference-width (34-column Agency_Data) snapshots ---------------
  //
  // The oracle delta queries above use the 6-column `orders` stand-in; the
  // reference predicate is a 33-way OR over all-string, NULL-rich columns
  // (agency-delta.go:168-200). These snapshots exercise that exact width:
  // `pid` + AbrSchemas.agencyCompareAttrs, every value a deterministic
  // md5-derived string so Spark and DuckDB agree byte-for-byte. Per column
  // index i (1-based), with h = substr(md5(key || ':' || name), 1, 8):
  //
  //   prev[i]   = NULL when (key+i)%11=0, else h
  //   newest[i] = NULL              when (key+i)%23=0   (value→NULL)
  //               h when (key+i)%3=0 else NULL,
  //                                 when (key+i)%11=0   (some NULL→value)
  //               h || 'X'          when (key+i)%19=0   (visible change)
  //               h                 otherwise
  //
  // Legacy mode sees only the non-null != non-null changes (%19 branch);
  // null-safe additionally counts the NULL transitions — the same
  // divergence R3 tests at 5 columns, now at reference width. The Spark
  // columns and the oracle SQL are generated from the SAME attribute list,
  // so the two derivations cannot drift.

  private def wideHash(name: String): Column =
    substring(md5(concat(col(key).cast("string"), lit(":" + name))), 1, 8)

  private def wideHashSql(name: String): String =
    s"substr(md5(CAST(o_orderkey AS VARCHAR) || ':$name'), 1, 8)"

  def widePrevious(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders").filter(col(key) % 13 =!= 0)
    val cols = col(key).cast("string").as(AbrSchemas.agencyKey) +:
      AbrSchemas.agencyCompareAttrs.zipWithIndex.map { case (c, ix) =>
        val i = ix + 1
        when((col(key) + i) % 11 === 0, lit(null).cast("string"))
          .otherwise(wideHash(c)).as(c)
      }
    o.select(cols: _*)
  }

  def wideNewest(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders").filter(col(key) % 17 =!= 0)
    val cols = col(key).cast("string").as(AbrSchemas.agencyKey) +:
      AbrSchemas.agencyCompareAttrs.zipWithIndex.map { case (c, ix) =>
        val i = ix + 1
        when((col(key) + i) % 23 === 0, lit(null).cast("string"))
          .when((col(key) + i) % 11 === 0,
            when((col(key) + i) % 3 === 0, wideHash(c))
              .otherwise(lit(null).cast("string")))
          .when((col(key) + i) % 19 === 0, concat(wideHash(c), lit("X")))
          .otherwise(wideHash(c)).as(c)
      }
    o.select(cols: _*)
  }

  // ----- skewed wide snapshots (r16, the delta skew receipt) -------------
  //
  // One hot pid FAMILY of duplicate-keyed rows — the dirty-data shape a
  // vendor re-send produces (the R6 dup-key DQ check exists because
  // this happens): every o_orderkey ≡ 7 (mod 293) collapses onto one
  // of 4 family pids ('HOT0'..'HOT3'), and a family row's attrs derive
  // from its PID, not its key, so the family is textually identical on
  // both sides. The delta OUTPUT is then exactly the wide changed set
  // restricted to non-family keys (identical pairs fail the change
  // predicate), while the JOIN must still process the family's
  // quadratic hot×hot pairs in single hash partitions — the skew
  // shape whose runtime AQE split is plan-pinned in AqeSkewJoinSpec;
  // the 10× sweep row tracks its wall-clock.

  private def hotCond: Column = col(key) % 293 === 7
  private def skewPid: Column =
    when(hotCond, concat(lit("HOT"), (col(key) % 4).cast("string")))
      .otherwise(col(key).cast("string"))
  private def pidHash(name: String): Column =
    substring(md5(concat(skewPid, lit(":" + name))), 1, 8)

  def wideSkewPrevious(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders").filter(col(key) % 13 =!= 0)
    val cols = skewPid.as(AbrSchemas.agencyKey) +:
      AbrSchemas.agencyCompareAttrs.zipWithIndex.map { case (c, ix) =>
        val i = ix + 1
        when(hotCond, pidHash(c))
          .when((col(key) + i) % 11 === 0, lit(null).cast("string"))
          .otherwise(wideHash(c)).as(c)
      }
    o.select(cols: _*)
  }

  def wideSkewNewest(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders").filter(col(key) % 17 =!= 0)
    val cols = skewPid.as(AbrSchemas.agencyKey) +:
      AbrSchemas.agencyCompareAttrs.zipWithIndex.map { case (c, ix) =>
        val i = ix + 1
        when(hotCond, pidHash(c))
          .when((col(key) + i) % 23 === 0, lit(null).cast("string"))
          .when((col(key) + i) % 11 === 0,
            when((col(key) + i) % 3 === 0, wideHash(c))
              .otherwise(lit(null).cast("string")))
          .when((col(key) + i) % 19 === 0, concat(wideHash(c), lit("X")))
          .otherwise(wideHash(c)).as(c)
      }
    o.select(cols: _*)
  }

  private def skewPidSql: String =
    "CASE WHEN o_orderkey % 293 = 7 THEN 'HOT' || " +
      "CAST(o_orderkey % 4 AS VARCHAR) " +
      "ELSE CAST(o_orderkey AS VARCHAR) END"

  private def pidHashSql(name: String): String =
    s"substr(md5(($skewPidSql) || ':$name'), 1, 8)"

  /** Oracle CTEs for the SKEWED wide snapshots — same attribute list,
    * with the family override applied first in each CASE.
    */
  private def wideSkewSnapshotCte: String = {
    val prevCols = AbrSchemas.agencyCompareAttrs.zipWithIndex.map {
      case (c, ix) =>
        val i = ix + 1
        s"""    CASE WHEN o_orderkey % 293 = 7 THEN ${pidHashSql(c)}
           |         WHEN (o_orderkey + $i) % 11 = 0 THEN NULL
           |         ELSE ${wideHashSql(c)} END AS $c""".stripMargin
    }.mkString(",\n")
    val newCols = AbrSchemas.agencyCompareAttrs.zipWithIndex.map {
      case (c, ix) =>
        val i = ix + 1
        s"""    CASE WHEN o_orderkey % 293 = 7 THEN ${pidHashSql(c)}
           |         WHEN (o_orderkey + $i) % 23 = 0 THEN NULL
           |         WHEN (o_orderkey + $i) % 11 = 0 THEN
           |           (CASE WHEN (o_orderkey + $i) % 3 = 0
           |                 THEN ${wideHashSql(c)} ELSE NULL END)
           |         WHEN (o_orderkey + $i) % 19 = 0 THEN ${wideHashSql(c)} || 'X'
           |         ELSE ${wideHashSql(c)} END AS $c""".stripMargin
    }.mkString(",\n")
    s"""WITH prev AS (
       |  SELECT $skewPidSql AS pid,
       |$prevCols
       |  FROM orders WHERE o_orderkey % 13 <> 0
       |), newest AS (
       |  SELECT $skewPidSql AS pid,
       |$newCols
       |  FROM orders WHERE o_orderkey % 17 <> 0
       |)""".stripMargin
  }

  /** Oracle CTEs for the wide snapshots — generated from the same
    * attribute list as the Spark derivations above.
    */
  private def wideSnapshotCte: String = {
    val prevCols = AbrSchemas.agencyCompareAttrs.zipWithIndex.map {
      case (c, ix) =>
        val i = ix + 1
        s"""    CASE WHEN (o_orderkey + $i) % 11 = 0 THEN NULL
           |         ELSE ${wideHashSql(c)} END AS $c""".stripMargin
    }.mkString(",\n")
    val newCols = AbrSchemas.agencyCompareAttrs.zipWithIndex.map {
      case (c, ix) =>
        val i = ix + 1
        s"""    CASE WHEN (o_orderkey + $i) % 23 = 0 THEN NULL
           |         WHEN (o_orderkey + $i) % 11 = 0 THEN
           |           (CASE WHEN (o_orderkey + $i) % 3 = 0
           |                 THEN ${wideHashSql(c)} ELSE NULL END)
           |         WHEN (o_orderkey + $i) % 19 = 0 THEN ${wideHashSql(c)} || 'X'
           |         ELSE ${wideHashSql(c)} END AS $c""".stripMargin
    }.mkString(",\n")
    s"""WITH prev AS (
       |  SELECT CAST(o_orderkey AS VARCHAR) AS pid,
       |$prevCols
       |  FROM orders WHERE o_orderkey % 13 <> 0
       |), newest AS (
       |  SELECT CAST(o_orderkey AS VARCHAR) AS pid,
       |$newCols
       |  FROM orders WHERE o_orderkey % 17 <> 0
       |)""".stripMargin
  }

  private def widePredicateSql(op: String): String =
    AbrSchemas.agencyCompareAttrs
      .map(c => s"n.$c $op p.$c").mkString("\n    OR ")

  /** The two snapshots read back from the real `importdate=`-partitioned
    * lake (graft.sources.AgencyLake) — each read is partition-pruned to a
    * single directory, exactly like the reference's
    * `WHERE importdate = '<x>'` over the Hive layout
    * (agency-delta.go:165-166). The snapshot *contents* are byte-identical
    * to the `previous`/`newest` derivations above, so the DuckDB oracle
    * CTEs below stay valid.
    */
  private def lakePair(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // Partition-pair selection from FS metadata (reference R5/S8):
    // lexicographic top-2 of the partition values, never a data scan.
    val (newestPart, prevPart) =
      SnapshotDelta.partitionPair(AgencyLake.partitionValues(s, dir))
    (AgencyLake.snapshot(s, dir, newestPart),
     AgencyLake.snapshot(s, dir, prevPart))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // NOTE (r17): bucketing the NARROW two-snapshot lake (and the
    // 4-snapshot history lake) by key — the move that took the WIDE
    // family from 2.96/3.00 s to 1.86/1.61 s — was tried for this
    // family too and MEASURED A WASH at sf0.1 (13-query paired targeted
    // runs, identical 12.75 s totals; nullsafe/cdc_feed/rowdiff
    // slightly worse, merge_upsert/scd2/history slightly better —
    // bench_narrow_{paired_before,bucketed_tried}_r17.json): at 6
    // narrow columns the exchange the bucket layout removes costs about
    // what the halved scan parallelism (16 bucket tasks vs 32 splits)
    // plus the per-query SMJ sorts add back. Reverted; the wide family
    // keeps the layout because 34 string columns make the exchange the
    // dominant term.
    // R2+R3 legacy mode: inner self-join + OR of !=, NULL transitions invisible
    "delta_updated" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta.updatedNarrow(n, p, key, compareAttrs, SnapshotDelta.Legacy)
    }),
    // R3 null-safe mode: NULL transitions detected
    "delta_updated_nullsafe" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta.updatedNarrow(n, p, key, compareAttrs, SnapshotDelta.NullSafe)
    }),
    // R1+R3 at reference width: the full 34-column Agency_Data shape
    // (1 key + 33 all-string NULL-rich compared attrs), legacy mode —
    // the 33-way OR disjunction exactly as agency-delta.go:168-200. The
    // snapshots read back from the materialized importdate= lake,
    // which since r17 is ALSO bucketed+sorted by pid at write time
    // (AgencyLake.ensureWide, the r16 verdict's storage-layout item):
    // each side is a partition-pruned scan reporting HashPartitioning
    // (pid), so the delta join plans with ZERO Exchange — the wide
    // shuffle moved into the once-per-snapshot ingest write. Bucketed
    // inputs take the plain [[SnapshotDelta.updated]] (its scaladoc:
    // narrow factoring only pays when there is an exchange to factor
    // out); rows are operator-identical either way.
    "delta_updated_wide" -> ((s, dir) =>
      SnapshotDelta.updated(
        AgencyLake.wideSnapshot(s, dir, AgencyLake.newestDate),
        AgencyLake.wideSnapshot(s, dir, AgencyLake.previousDate),
        AbrSchemas.agencyKey, AbrSchemas.agencyCompareAttrs,
        SnapshotDelta.Legacy)),
    // the SKEW receipt (r16): the reference-width legacy delta over
    // snapshots carrying a duplicate-keyed hot pid family (the
    // dirty-data shape the R6 dup-key DQ check exists for), run on
    // the PRODUCTION plan. Skew defense is two-layer: (1) the narrow
    // factoring joins only (key, rowhash) — 16-byte rows — so the
    // family's quadratic hot×hot pair work crosses the shuffle at
    // ~1/100 the bytes and the identical pairs are dismissed before
    // any wide column joins; (2) when a hot partition IS oversized,
    // AQE's runtime skew split parallelizes it — plan-pinned on the
    // plain wide join at harness thresholds in AqeSkewJoinSpec (the
    // shape a bucketed or hand-written delta would face). Output
    // equals the wide changed set restricted to non-family keys
    // (identical family pairs fail the predicate); the oracle
    // restates it.
    "delta_updated_wide_skewed" -> ((s, dir) =>
      SnapshotDelta.updatedNarrow(
        AgencyLake.wideSkewSnapshot(s, dir, AgencyLake.newestDate),
        AgencyLake.wideSkewSnapshot(s, dir, AgencyLake.previousDate),
        AbrSchemas.agencyKey, AbrSchemas.agencyCompareAttrs,
        SnapshotDelta.Legacy)),
    // same width, null-safe mode: NULL transitions across all 33
    // columns (same bucketed layout + plain-updated rationale as above)
    "delta_updated_wide_nullsafe" -> ((s, dir) =>
      SnapshotDelta.updated(
        AgencyLake.wideSnapshot(s, dir, AgencyLake.newestDate),
        AgencyLake.wideSnapshot(s, dir, AgencyLake.previousDate),
        AbrSchemas.agencyKey, AbrSchemas.agencyCompareAttrs,
        SnapshotDelta.NullSafe)),
    // the standing-deployment layout (SURVEY §2.2 scale note): both
    // snapshots bucketed+sorted by the key, so the delta join needs no
    // exchange and no sort — per-bucket merge only. Same semantics and
    // oracle as delta_updated; BucketedDeltaSpec proves the plan shape.
    "delta_updated_bucketed" -> ((s, dir) => {
      val (prevT, newT) = graft.sources.BucketedTables.ensureSnapshots(s, dir)
      SnapshotDelta.updated(s.table(newT), s.table(prevT), key,
        compareAttrs, SnapshotDelta.Legacy)
    }),
    // the same standing layout at reference width, where it matters
    // most: the wide delta's recurring cost is shuffling 34 string
    // columns of both snapshots — bucketed+sorted by pid, the null-safe
    // wide delta becomes a per-bucket merge with no exchange (plan proof
    // in BucketedJoinSpec; same rows/oracle as delta_updated_wide_nullsafe)
    "delta_updated_wide_bucketed" -> ((s, dir) => {
      val (prevT, newT) = graft.sources.BucketedTables.ensureWideSnapshots(s, dir)
      SnapshotDelta.updated(s.table(newT), s.table(prevT),
        AbrSchemas.agencyKey, AbrSchemas.agencyCompareAttrs,
        SnapshotDelta.NullSafe)
    }),
    // R4 intent: anti-join
    "delta_added" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta.added(n, p, key)
    }),
    // R4 literal: the reference "new" query as written provably returns 0
    // rows (SURVEY §2.2 R4) — bug-compat mode, oracle-checked empty.
    "delta_added_literal" -> ((s, dir) =>
      SnapshotDelta.addedLiteral(lakePair(s, dir)._1)),
    // extension: SCD2 history build — the versioned warehouse table the
    // change sets feed; one full-outer join + explode (SnapshotDelta.scd2)
    "delta_scd2" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta.scd2(n, p, key, compareAttrs,
        AgencyLake.previousDate, AgencyLake.newestDate)
    }),
    // closing the loop: MERGE the change sets back into the previous
    // snapshot and recover the newest exactly (the operation the delta
    // CSVs exist to feed downstream). NULL-SAFE updated set — the legacy
    // set misses NULL transitions and would under-apply.
    "delta_merge_upsert" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta.mergeUpsert(p,
        SnapshotDelta.updatedNarrow(n, p, key, compareAttrs, SnapshotDelta.NullSafe),
        SnapshotDelta.added(n, p, key),
        SnapshotDelta.removed(n, p, key), key)
    }),
    // extension: symmetric complement
    "delta_removed" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta.removed(n, p, key)
    }),
    // alternative delta formulation (SURVEY §2.4 set-ops note): the
    // UPDATED∪ADDED decomposition is morally a row-level EXCEPT ALL of
    // the snapshots — one operator, no join, bag semantics
    "delta_rowdiff" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      n.exceptAll(p)
    }),
    // the 100 TB formulation of the same EXCEPT ALL: exceptAll shuffles
    // both snapshots at FULL WIDTH (34 string columns in the reference
    // lake); this one pre-groups each side to (row-hash, count) — the
    // shuffle carries 16 bytes/row after map-side partial agg — diffs
    // the counts, and re-joins the (tiny) excess-hash set against the
    // newest scan to recover the full rows, replicated by their excess
    // multiplicity. Rows sharing a hash are identical across all hashed
    // columns (the (isNull, value) marker pairs keep NULL placement
    // collision-free, same idiom as the delta fast path —
    // SnapshotDelta.updated), so the representative row is exact; the
    // residual ~2^-64 hash-collision risk is the documented trade, and
    // the DuckDB oracle (plain EXCEPT ALL) keeps it honest.
    "delta_rowdiff_hashed" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      val cols = n.columns.toIndexedSeq
      def withH(df: DataFrame) = df.withColumn("_h",
        xxhash64(struct(cols.flatMap(c => Seq(col(c).isNull, col(c))): _*)))
      val nc = withH(n).groupBy("_h").agg(count(lit(1)).as("_cn"))
      val pc = withH(p).groupBy("_h").agg(count(lit(1)).as("_cp"))
      val excess = nc.join(pc, Seq("_h"), "left_outer")
        .select(col("_h"),
          (col("_cn") - coalesce(col("_cp"), lit(0L))).as("_k"))
        .where(col("_k") > 0)
      withH(n).dropDuplicates("_h") // same-hash rows are identical rows
        .join(excess, "_h")
        .withColumn("_i", explode(expr("sequence(1, _k)")))
        .select(cols.map(col): _*)
    }),
    // R6: the optional dup-key data-quality check — the reference
    // assumes pid unique per partition (a dup fans out the self-join);
    // this surfaces per-partition row/key/dup counts so the assumption
    // is checked, not trusted. One groupBy per partition, no join.
    "delta_dq_dupkeys" -> ((s, dir) => {
      val root = AgencyLake.ensure(s, dir)
      s.read.parquet(root)
        .groupBy("importdate")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col(key)).as("n_keys"),
          (count(lit(1)) - countDistinct(col(key))).as("n_dup_keys"))
    }),
    // R5+S8: top-2 partition-value selection over partition *metadata*
    // (directory listing + driver-side sort, mirroring GetDeltaPartitions,
    // agency-delta.go:97-124) — at 100 TB this reads N directory names,
    // not the data.
    "delta_partition_pair" -> ((s, dir) => {
      val (newestPart, prevPart) =
        SnapshotDelta.partitionPair(AgencyLake.partitionValues(s, dir))
      s.createDataFrame(Seq(Tuple1(newestPart), Tuple1(prevPart)))
        .toDF("importdate")
    }),
    // Multi-snapshot delta fold: the reference runs weekly forever but
    // only ever diffs the newest pair (agency-delta.go:118-121); this
    // generalizes to the FULL chronology — per consecutive partition
    // pair, UPDATED/ADDED/REMOVED counts — in ONE distributed pass, not
    // N driver-looped pair jobs. The previous side is the same lake with
    // importdate SHIFTED to its successor (the date→next mapping comes
    // from the metadata partition listing, driver-side like R5), so a
    // single full-outer join on (importdate, key) lines every snapshot
    // up against its predecessor; one groupBy(importdate) then counts
    // the three change classes. Shape at 100 TB: one co-partitioned
    // shuffle of the lake + a 3-group aggregate — each pair still only
    // meets its own two partitions' rows.
    "delta_history" -> ((s, dir) => {
      val root = AgencyLake.ensureHistory(s, dir)
      val dates = AgencyLake.historyPartitionValues(s, dir).sorted
      // partition-value inference types importdate as DATE; the pair
      // fold treats dates as opaque ordered labels (reference parity:
      // GetDeltaPartitions sorts strings), so pin string
      val lake = s.read.parquet(root)
        .withColumn("importdate", col("importdate").cast("string"))
      val attrs = struct(col("o_orderstatus"), col("o_totalprice"))
      val n = lake.where(col("importdate").isin(dates.tail: _*))
        .select(col("importdate"), col(key), attrs.as("na"))
      val nextOf = dates.zip(dates.tail)
        .map { case (d, nd) => (lit(d), lit(nd)) }
      // the predecessor side PRUNES on the raw partition column first
      // (the newest date has no successor — its partition must never be
      // scanned for this side); the successor mapping then runs on
      // surviving rows only. Filtering on the mapped column instead
      // would defeat partition pruning and scan all N partitions.
      val p = lake
        .where(col("importdate").isin(dates.init: _*))
        .select(
          nextOf.tail.foldLeft(
            when(col("importdate") === nextOf.head._1, nextOf.head._2)) {
            case (acc, (d, nd)) => acc.when(col("importdate") === d, nd)
          }.as("importdate"),
          col(key), attrs.as("pa"))
      n.join(p, Seq("importdate", key), "full_outer")
        .groupBy("importdate")
        .agg(
          count(when(col("na").isNotNull && col("pa").isNotNull &&
            !(col("na") <=> col("pa")), lit(1))).as("n_updated"),
          count(when(col("pa").isNull, lit(1))).as("n_added"),
          count(when(col("na").isNull, lit(1))).as("n_removed"))
    }),
    // The unified CDC changefeed — the single-stream view a downstream
    // consumer (Kafka topic, Delta/Iceberg CDF reader, search indexer)
    // actually subscribes to: one row per change, tagged I/U/D, updated
    // rows carrying the NEWEST values and deletes the last-seen previous
    // values. Composed from the same three operators the merge-upsert
    // validates, so feed ∘ apply ≡ snapshot holds by construction. Plan
    // shape: the three branches share the two pruned snapshot scans
    // (each side is scanned per branch but never shuffled wider than its
    // own join), and union is a zero-cost plan node — at 100 TB this is
    // three key-joins over two partition-pruned scans, nothing more.
    "delta_cdc_feed" -> ((s, dir) => {
      val (n, p) = lakePair(s, dir)
      SnapshotDelta
        .updated(n, p, key, compareAttrs, SnapshotDelta.NullSafe)
        .withColumn("op", lit("U"))
        .unionByName(SnapshotDelta.added(n, p, key).withColumn("op", lit("I")))
        .unionByName(SnapshotDelta.removed(n, p, key).withColumn("op", lit("D")))
    }),
    // Runtime-pruned snapshot read: the snapshot dates of interest come
    // from a DIM-TABLE FILTER, so they are unknowable at plan time and
    // static partition pruning cannot apply. Catalyst's PartitionPruning
    // rule instead injects a dynamicpruningexpression subquery on the
    // fact side's importdate partition column, reusing the dim's
    // broadcast — the fact scan lists only the matching importdate=
    // directories (DppSpec asserts both the expression and the pruned
    // partition count). The 100 TB shape this pins: a lake holding years
    // of weekly snapshots, queried through a watchlist table, still
    // touches only the watched weeks' files.
    "delta_history_dpp" -> ((s, dir) => {
      val root = AgencyLake.ensureHistory(s, dir)
      val lake = s.read.parquet(root) // importdate inferred as DATE
      val dateArr = array(AgencyLake.historyDates.map(lit): _*)
      val dim = Tables(s, dir, "region")
        .where(col("r_regionkey") < 2)
        .select(to_date(element_at(dateArr,
          col("r_regionkey").cast("int") + 1)).as("importdate"))
      lake.join(dim, Seq("importdate"))
        .groupBy(col("importdate").cast("string").as("importdate"))
        .agg(count(lit(1)).as("n_rows"),
          // exact decimal sum then one double cast — aggregation-order-
          // independent money math (same trick as events_json)
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
    }),

    // Incremental materialized-view maintenance — the 100 TB aggregation
    // contract: a stored per-group aggregate is advanced by the CDC
    // delta alone (±1 count / ±value per changed row, attributed to the
    // OLD group for removals and the NEW group for insertions, so rows
    // MOVING between groups maintain both sides), never by rescanning
    // history. The query computes newest's aggregate via prev_agg +
    // delta; the oracle aggregates newest directly — the hash match IS
    // the maintenance-algebra proof, exact because sums stay DECIMAL
    // until one final double cast. (The fixture derives prev_agg inline
    // for self-containment; production reads it as the stored MV, so
    // per refresh only the delta partitions are scanned.)
    "delta_incr_agg" -> ((s, dir) => {
      def snap(df: DataFrame) = df.select(col(key),
        col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("v"))
      graft.operators.IncrementalAgg
        .maintain(snap(previous(s, dir)), snap(newest(s, dir)),
          key, "o_orderstatus", "v")
        .select(col("o_orderstatus"), col("n").as("n_orders"),
          col("total").cast("double").as("total"))
    }),

    // Snapshot-over-snapshot distribution drift (PSI — population
    // stability index): the data-quality gate a weekly feed needs
    // BEYOND row deltas — a feed can pass every row-level check while
    // its value distribution silently shifts (upstream repricing,
    // truncation bugs, unit changes). Histogram each snapshot into 10
    // fixed-width price bins (integer-exact floor binning), Laplace-
    // smooth (+1) so empty bins stay defined, and report each bin's PSI
    // contribution (q−p)·ln(q/p). Scale shape: two partial-agg'd
    // histogram folds (10 cells each cross the wire, never rows) + a
    // 10-row broadcast-scalar join — O(bins) state at any corpus size.
    // Engine parity: shares are integer-ratio doubles (one IEEE
    // division), and the per-bin contribution is rounded at 6 digits —
    // a last-ULP ln() divergence (~1e-17 relative) cannot straddle a
    // 5e-7 rounding boundary, and no sum crosses engines (contributions
    // are reported per bin, so there is no aggregation order to pin).
    "dq_snapshot_drift" -> ((s, dir) => {
      val bin = least(floor(col("o_totalprice") / 20000.0), lit(9.0))
        .cast("long")
      def hist(df: DataFrame, c: String) =
        df.select(bin.as("bin")).groupBy("bin")
          .agg(count(lit(1)).as(c))
      val p = hist(previous(s, dir), "pc")
      val q = hist(newest(s, dir), "qc")
      val tots = previous(s, dir).agg(count(lit(1)).as("pt"))
        .crossJoin(broadcast(newest(s, dir).agg(count(lit(1)).as("qt"))))
      val joined = p.join(q, Seq("bin"), "full_outer")
        .crossJoin(broadcast(tots))
        .select(col("bin"),
          coalesce(col("pc"), lit(0L)).as("p_cnt"),
          coalesce(col("qc"), lit(0L)).as("q_cnt"),
          ((coalesce(col("pc"), lit(0L)) + 1L) /
            (col("pt") + 10L).cast("double")).as("ps"),
          ((coalesce(col("qc"), lit(0L)) + 1L) /
            (col("qt") + 10L).cast("double")).as("qs"))
      joined.select(col("bin"), col("p_cnt"), col("q_cnt"),
        round((col("qs") - col("ps")) * log(col("qs") / col("ps")), 6)
          .as("psi_contrib6"))
    }),
    // the SQL spelling of the merge-upsert closure — the statement a
    // lake user actually types. The target is a real catalog table
    // (graft.sources.dsv2.GraftCatalog + LakeTable): Spark plans its
    // group-based copy-on-write rewrite (RewriteMergeIntoTable →
    // ReplaceData) against the connector's row-level-operation scan and
    // replacing write; all three clause families exercise in one
    // statement. merge(prev, newest-as-source) must recover the newest
    // snapshot exactly — same oracle as delta_merge_upsert.
    "delta_merge_sql" -> ((s, dir) => {
      import graft.sources.dsv2.LakeCatalogs
      LakeCatalogs.register(s)
      val tbl = s"${LakeCatalogs.CatalogName}.${LakeCatalogs.ns(dir)}.agency_merge"
      // MERGE mutates the table and the harness executes a query more
      // than once, so the CTAS+MERGE end state is built once per app
      // ([[graft.Fixtures]]) and every sample reads the merged table
      graft.Fixtures.once(s, dir, "agency_merge") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        previous(s, dir).writeTo(tbl).create()
        newest(s, dir).createOrReplaceTempView("delta_merge_sql_source")
        s.sql(
          s"""MERGE INTO $tbl t
             |USING delta_merge_sql_source s
             |ON t.$key = s.$key
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      }
      s.table(tbl)
    }),
    // the remaining two DML statements on the same copy-on-write seam
    // (RewriteUpdateTable / RewriteDeleteFromTable → ReplaceData):
    // UPDATE rewrites affected groups with the assignment applied and
    // carry-over rows intact; DELETE rewrites them without the matching
    // rows. Oracles state the end-state declaratively over prev.
    "delta_update_sql" -> ((s, dir) => {
      import graft.sources.dsv2.LakeCatalogs
      LakeCatalogs.register(s)
      val tbl = s"${LakeCatalogs.CatalogName}.${LakeCatalogs.ns(dir)}.agency_upd"
      graft.Fixtures.once(s, dir, "agency_upd") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        previous(s, dir).writeTo(tbl).create()
        s.sql(
          s"""UPDATE $tbl
             |SET o_totalprice = o_totalprice * 1.1,
             |    o_orderpriority = 'RUSHED'
             |WHERE o_orderstatus = 'O' AND $key % 5 = 0""".stripMargin)
      }
      s.table(tbl)
    }),
    "delta_delete_sql" -> ((s, dir) => {
      import graft.sources.dsv2.LakeCatalogs
      LakeCatalogs.register(s)
      val tbl = s"${LakeCatalogs.CatalogName}.${LakeCatalogs.ns(dir)}.agency_del"
      graft.Fixtures.once(s, dir, "agency_del") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        previous(s, dir).writeTo(tbl).create()
        s.sql(s"DELETE FROM $tbl WHERE $key % 7 = 3 OR o_totalprice > 500000.0")
      }
      s.table(tbl)
    }),
  )

  /** Oracle CTE for the history snapshots — generated from the SAME
    * date/prime/perturbation constants as AgencyLake.historySnapshot.
    */
  private def historySnapshotSql: String = {
    val primes = Seq(11, 13, 17, 19)
    val dates = AgencyLake.historyDates
    val snaps = dates.indices.map { k =>
      s"""  SELECT '${dates(k)}' AS importdate, o_orderkey,
         |    CASE WHEN (o_orderkey + $k) % 9 = 0 THEN o_orderstatus || 'U'
         |         ELSE o_orderstatus END AS o_orderstatus,
         |    o_totalprice + (CASE WHEN o_orderkey % 5 = $k THEN 1.0 ELSE 0.0 END)
         |      AS o_totalprice
         |  FROM orders WHERE o_orderkey % ${primes(k)} <> 0""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val shift = dates.zip(dates.tail)
      .map { case (d, nd) => s"WHEN importdate = '$d' THEN '$nd'" }
      .mkString(" ")
    s"""WITH snaps AS (
       |$snaps
       |), n AS (
       |  SELECT * FROM snaps WHERE importdate <> '${dates.head}'
       |), p AS (
       |  SELECT CASE $shift END AS importdate, o_orderkey, o_orderstatus,
       |    o_totalprice
       |  FROM snaps WHERE importdate <> '${dates.last}'
       |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // the oracle aggregates newest DIRECTLY — hash equality against the
    // incremental prev_agg+delta path proves the maintenance algebra
    "delta_incr_agg" ->
      s"""$snapshotCte
         |SELECT o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM newest GROUP BY 1""".stripMargin,

    "dq_snapshot_drift" ->
      s"""$snapshotCte, ph AS (
         |  SELECT CAST(least(floor(o_totalprice / 20000.0), 9.0) AS BIGINT)
         |    AS bin, count(*) AS pc
         |  FROM prev GROUP BY 1
         |), qh AS (
         |  SELECT CAST(least(floor(o_totalprice / 20000.0), 9.0) AS BIGINT)
         |    AS bin, count(*) AS qc
         |  FROM newest GROUP BY 1
         |), tots AS (
         |  SELECT (SELECT count(*) FROM prev) AS pt,
         |         (SELECT count(*) FROM newest) AS qt
         |), j AS (
         |  SELECT coalesce(ph.bin, qh.bin) AS bin,
         |    coalesce(pc, 0) AS p_cnt, coalesce(qc, 0) AS q_cnt,
         |    (coalesce(pc, 0) + 1) / CAST(pt + 10 AS DOUBLE) AS ps,
         |    (coalesce(qc, 0) + 1) / CAST(qt + 10 AS DOUBLE) AS qs
         |  FROM ph FULL OUTER JOIN qh ON qh.bin = ph.bin, tots
         |)
         |SELECT bin, CAST(p_cnt AS BIGINT) AS p_cnt,
         |  CAST(q_cnt AS BIGINT) AS q_cnt,
         |  round((qs - ps) * ln(qs / ps), 6) AS psi_contrib6
         |FROM j""".stripMargin,

    "delta_updated" ->
      s"""$snapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE n.o_custkey <> p.o_custkey
         |   OR n.o_orderstatus <> p.o_orderstatus
         |   OR n.o_totalprice <> p.o_totalprice
         |   OR n.o_orderdate <> p.o_orderdate
         |   OR n.o_orderpriority <> p.o_orderpriority""".stripMargin,
    "delta_updated_nullsafe" ->
      s"""$snapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE n.o_custkey IS DISTINCT FROM p.o_custkey
         |   OR n.o_orderstatus IS DISTINCT FROM p.o_orderstatus
         |   OR n.o_totalprice IS DISTINCT FROM p.o_totalprice
         |   OR n.o_orderdate IS DISTINCT FROM p.o_orderdate
         |   OR n.o_orderpriority IS DISTINCT FROM p.o_orderpriority""".stripMargin,
    "delta_updated_wide" ->
      s"""$wideSnapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.pid = p.pid
         |WHERE ${widePredicateSql("<>")}""".stripMargin,
    "delta_updated_wide_nullsafe" ->
      s"""$wideSnapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.pid = p.pid
         |WHERE ${widePredicateSql("IS DISTINCT FROM")}""".stripMargin,
    // the skewed variant: identical family pairs fail every <>, so the
    // changed set is the non-family keys' — restated pair-for-pair
    "delta_updated_wide_skewed" ->
      s"""$wideSkewSnapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.pid = p.pid
         |WHERE ${widePredicateSql("<>")}""".stripMargin,
    // bucketed layout changes the plan, not the rows
    "delta_updated_wide_bucketed" ->
      s"""$wideSnapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.pid = p.pid
         |WHERE ${widePredicateSql("IS DISTINCT FROM")}""".stripMargin,
    "delta_updated_bucketed" ->
      s"""$snapshotCte
         |SELECT n.* FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE n.o_custkey <> p.o_custkey
         |   OR n.o_orderstatus <> p.o_orderstatus
         |   OR n.o_totalprice <> p.o_totalprice
         |   OR n.o_orderdate <> p.o_orderdate
         |   OR n.o_orderpriority <> p.o_orderpriority""".stripMargin,
    "delta_added" ->
      s"""$snapshotCte
         |SELECT n.* FROM newest n
         |WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.o_orderkey = n.o_orderkey)""".stripMargin,
    "delta_added_literal" ->
      s"""$snapshotCte
         |SELECT n.* FROM newest n WHERE 1 = 0""".stripMargin,
    "delta_removed" ->
      s"""$snapshotCte
         |SELECT p.* FROM prev p
         |WHERE NOT EXISTS (SELECT 1 FROM newest n WHERE n.o_orderkey = p.o_orderkey)""".stripMargin,
    "delta_rowdiff" ->
      s"""$snapshotCte
         |SELECT * FROM newest EXCEPT ALL SELECT * FROM prev""".stripMargin,
    // same semantic contract as delta_rowdiff — the oracle is the plain
    // set-op; only the Spark-side physical strategy differs
    "delta_rowdiff_hashed" ->
      s"""$snapshotCte
         |SELECT * FROM newest EXCEPT ALL SELECT * FROM prev""".stripMargin,
    "delta_cdc_feed" ->
      s"""$snapshotCte
         |SELECT n.*, 'U' AS op
         |FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE n.o_custkey IS DISTINCT FROM p.o_custkey
         |   OR n.o_orderstatus IS DISTINCT FROM p.o_orderstatus
         |   OR n.o_totalprice IS DISTINCT FROM p.o_totalprice
         |   OR n.o_orderdate IS DISTINCT FROM p.o_orderdate
         |   OR n.o_orderpriority IS DISTINCT FROM p.o_orderpriority
         |UNION ALL
         |SELECT n.*, 'I' AS op FROM newest n
         |WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.o_orderkey = n.o_orderkey)
         |UNION ALL
         |SELECT p.*, 'D' AS op FROM prev p
         |WHERE NOT EXISTS (SELECT 1 FROM newest n WHERE n.o_orderkey = p.o_orderkey)""".stripMargin,
    // merge(prev, deltas) must equal the newest snapshot, row for row
    "delta_merge_upsert" ->
      s"""$snapshotCte
         |SELECT * FROM newest""".stripMargin,
    // SQL MERGE INTO with source = newest: same closure, same oracle
    "delta_merge_sql" ->
      s"""$snapshotCte
         |SELECT * FROM newest""".stripMargin,
    "delta_update_sql" ->
      s"""$snapshotCte
         |SELECT o_orderkey, o_custkey, o_orderstatus,
         |  CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 0
         |       THEN o_totalprice * 1.1 ELSE o_totalprice END
         |    AS o_totalprice,
         |  o_orderdate,
         |  CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 0
         |       THEN 'RUSHED' ELSE o_orderpriority END
         |    AS o_orderpriority
         |FROM prev""".stripMargin,
    "delta_delete_sql" ->
      s"""$snapshotCte
         |SELECT * FROM prev
         |WHERE NOT (o_orderkey % 7 = 3 OR o_totalprice > 500000.0)""".stripMargin,
    "delta_scd2" -> {
      val changedSql =
        """   n.o_custkey IS DISTINCT FROM p.o_custkey
          |   OR n.o_orderstatus IS DISTINCT FROM p.o_orderstatus
          |   OR n.o_totalprice IS DISTINCT FROM p.o_totalprice
          |   OR n.o_orderdate IS DISTINCT FROM p.o_orderdate
          |   OR n.o_orderpriority IS DISTINCT FROM p.o_orderpriority""".stripMargin
      s"""$snapshotCte
         |SELECT p.*, '2024-01-08' AS valid_from, '2024-01-15' AS valid_to,
         |  'closed' AS status
         |FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE $changedSql
         |UNION ALL
         |SELECT n.*, '2024-01-15', NULL, 'current'
         |FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE $changedSql
         |UNION ALL
         |SELECT n.*, '2024-01-08', NULL, 'current'
         |FROM newest n JOIN prev p ON n.o_orderkey = p.o_orderkey
         |WHERE NOT ($changedSql)
         |UNION ALL
         |SELECT n.*, '2024-01-15', NULL, 'current'
         |FROM newest n
         |WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.o_orderkey = n.o_orderkey)
         |UNION ALL
         |SELECT p.*, '2024-01-08', '2024-01-15', 'closed'
         |FROM prev p
         |WHERE NOT EXISTS (SELECT 1 FROM newest n WHERE n.o_orderkey = p.o_orderkey)""".stripMargin
    },
    "delta_dq_dupkeys" ->
      s"""$snapshotCte
         |SELECT '2024-01-08' AS importdate, count(*) AS n_rows,
         |  count(DISTINCT o_orderkey) AS n_keys,
         |  count(*) - count(DISTINCT o_orderkey) AS n_dup_keys
         |FROM prev
         |UNION ALL
         |SELECT '2024-01-15', count(*), count(DISTINCT o_orderkey),
         |  count(*) - count(DISTINCT o_orderkey)
         |FROM newest""".stripMargin,
    // the lake has exactly two snapshot partitions (AgencyLake.ensure);
    // pins the metadata-listing result to the expected pair, newest first
    "delta_partition_pair" ->
      """SELECT * FROM (VALUES ('2024-01-15'), ('2024-01-08')) AS t(importdate)""".stripMargin,
    "delta_history" ->
      s"""$historySnapshotSql
         |SELECT COALESCE(n.importdate, p.importdate) AS importdate,
         |  count(CASE WHEN n.o_orderkey IS NOT NULL AND p.o_orderkey IS NOT NULL
         |    AND (n.o_orderstatus IS DISTINCT FROM p.o_orderstatus
         |         OR n.o_totalprice IS DISTINCT FROM p.o_totalprice)
         |    THEN 1 END) AS n_updated,
         |  count(CASE WHEN p.o_orderkey IS NULL THEN 1 END) AS n_added,
         |  count(CASE WHEN n.o_orderkey IS NULL THEN 1 END) AS n_removed
         |FROM n FULL OUTER JOIN p
         |  ON n.importdate = p.importdate AND n.o_orderkey = p.o_orderkey
         |GROUP BY 1""".stripMargin,
    "delta_history_dpp" -> {
      val dateList = AgencyLake.historyDates.map(d => s"'$d'").mkString(",")
      s"""$historySnapshotSql
         |, dim AS (
         |  SELECT ([$dateList])[CAST(r_regionkey + 1 AS INT)] AS importdate
         |  FROM region WHERE r_regionkey < 2
         |)
         |SELECT s.importdate, count(*) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM snaps s JOIN dim d ON s.importdate = d.importdate
         |GROUP BY 1""".stripMargin
    },
  )
}
