package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.DeltaQueries

/** A real Hive-partitioned snapshot table, mirroring the reference's lake
  * layout `DATA/<Dataset>/importdate=<yyyy-MM-dd>/` (reference:
  * load.go:19-21). The reference's delta queries diff two *partitions* of
  * `abr_weekly_agency_data` with partition pruning
  * (agency-delta.go:165-166); round 1 simulated that with modulus filters
  * over a flat parquet — this materializes the same two snapshots as actual
  * `importdate=` partitions so the delta queries execute partition-pruned
  * scans (verify: `PartitionFilters` non-empty in the executed plan).
  *
  * Scale notes (100 TB): the table is written `partitionBy("importdate")`
  * so each weekly snapshot is an independent prune-able unit — a delta over
  * two weeks touches 2/N of the data no matter how much history
  * accumulates. Snapshots stay multi-file (never coalesced); only small
  * delta outputs get the single-file treatment (SURVEY §7.4.3).
  */
object AgencyLake {

  /** Bump when the snapshot derivation changes — keys the materialized
    * path so stale lakes from older code are never reused.
    */
  private val DerivationVersion = 3

  /** Files per snapshot partition. A snapshot written as ONE parquet file
    * under `maxPartitionBytes` scans as ONE task — zero scan parallelism,
    * and the whole side funnels through a single shuffle writer. Spreading
    * each `importdate=` dir over a fixed file count keeps the scan and the
    * first shuffle stage parallel at any executor count (at 100 TB the
    * writer's natural task count does this for free; a local derivation
    * has to ask for it).
    */
  private val SnapshotFiles = 16

  val previousDate = "2024-01-08"
  val newestDate   = "2024-01-15"

  /** Root of the materialized table for a given source sf dir. */
  def tableRoot(sfDir: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-lake-v$DerivationVersion-$key/agency_snapshots"
  }

  /** Materialize the two-snapshot partitioned table (idempotent; at most
    * once per path — `_SUCCESS` is the completion marker). Returns root.
    */
  def ensure(spark: SparkSession, sfDir: String): String = synchronized {
    val root = tableRoot(sfDir)
    val fs = FileSystem.get(
      new java.net.URI(s"file://$root"),
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(root, "_SUCCESS"))) {
      val prev = DeltaQueries.previous(spark, sfDir)
        .withColumn("importdate", lit(previousDate))
      val newer = DeltaQueries.newest(spark, sfDir)
        .withColumn("importdate", lit(newestDate))
      prev.unionByName(newer)
        .repartition(SnapshotFiles, col("importdate"), col(DeltaQueries.key))
        .write.mode("overwrite")
        .partitionBy("importdate")
        .parquet(root)
    }
    root
  }

  /** One snapshot = one partition, read with a partition-value filter so
    * Catalyst prunes to a single `importdate=` directory (reference S5,
    * agency-delta.go:165-166). `importdate` is dropped so the snapshot
    * schema equals the logical table schema.
    */
  def snapshot(spark: SparkSession, sfDir: String, importdate: String): DataFrame =
    spark.read.parquet(ensure(spark, sfDir))
      .where(col("importdate") === lit(importdate))
      .drop("importdate")

  /** Buckets of the wide lake. Sized like [[graft.sources
    * .BucketedTables.BucketCount]]: a bucket must fit an executor's
    * memory for the per-bucket merge; a cluster deployment sizes it to
    * its snapshot volume at table-creation time.
    */
  private val WideBuckets = 8

  /** Materialize the reference-width snapshots (pid + 33 all-string
    * NULL-rich attrs, DeltaQueries.widePrevious/wideNewest) as ONE
    * `importdate=`-partitioned AND pid-bucketed+sorted catalog table
    * (r17, guide §2.4/§6 — the r16 verdict's storage-layout item). The
    * 33-md5-per-row derivation runs once per (app, sf dir); every wide
    * delta after that reads two partition-PRUNED scans whose bucket
    * layout makes the pid self-join EXCHANGE-FREE — the standing
    * layout a weekly-snapshot deployment writes at ingest (the shuffle
    * is paid once by the writer, not per delta). Returns the table
    * name. Rebuilt per JVM (in-memory catalog): nothing persists
    * across driver runs.
    */
  def ensureWide(spark: SparkSession, sfDir: String): String = synchronized {
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"agency_wide_bkt$key"
    if (!spark.catalog.tableExists(table)) {
      val prev = DeltaQueries.widePrevious(spark, sfDir)
        .withColumn("importdate", lit(previousDate))
      val newer = DeltaQueries.wideNewest(spark, sfDir)
        .withColumn("importdate", lit(newestDate))
      prev.unionByName(newer)
        // one writer task per bucket → one sorted file per
        // (importdate, bucket) dir
        .repartition(WideBuckets, col("pid"))
        .write.mode("overwrite")
        .partitionBy("importdate")
        .bucketBy(WideBuckets, "pid")
        .sortBy("pid")
        .option("path", s"${sys.props("java.io.tmpdir")}/" +
          s"graft-lake-v$DerivationVersion-$key/agency_wide_bkt")
        .saveAsTable(table)
    }
    table
  }

  /** One wide snapshot = one pruned `importdate=` partition of the
    * bucketed table (PartitionFilters in the scan, HashPartitioning
    * (pid, 8) reported to the join).
    */
  def wideSnapshot(spark: SparkSession, sfDir: String,
                   importdate: String): DataFrame =
    spark.table(ensureWide(spark, sfDir))
      .where(col("importdate") === lit(importdate))
      .drop("importdate")

  private def wideSkewRoot(sfDir: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-lake-v$DerivationVersion-$key/agency_wide_skew"
  }

  /** The SKEWED wide snapshots (r16 — hot pid family, DeltaQueries
    * .wideSkewPrevious/wideSkewNewest) materialized once per sf dir,
    * same rationale as [[ensureWide]]: the delta queries scan stored
    * snapshots, they don't re-run the 33-md5 derivation per query.
    */
  def ensureWideSkew(spark: SparkSession, sfDir: String): String =
    synchronized {
      val root = wideSkewRoot(sfDir)
      val fs = FileSystem.get(
        new java.net.URI(s"file://$root"),
        spark.sessionState.newHadoopConf())
      if (!fs.exists(new Path(root, "_SUCCESS"))) {
        val prev = DeltaQueries.wideSkewPrevious(spark, sfDir)
          .withColumn("importdate", lit(previousDate))
        val newer = DeltaQueries.wideSkewNewest(spark, sfDir)
          .withColumn("importdate", lit(newestDate))
        prev.unionByName(newer)
          .repartition(SnapshotFiles, col("importdate"), col("pid"))
          .write.mode("overwrite")
          .partitionBy("importdate")
          .parquet(root)
      }
      root
    }

  /** One skewed wide snapshot = one pruned `importdate=` partition. */
  def wideSkewSnapshot(spark: SparkSession, sfDir: String,
                       importdate: String): DataFrame =
    spark.read.parquet(ensureWideSkew(spark, sfDir))
      .where(col("importdate") === lit(importdate))
      .drop("importdate")

  /** Partition values via *metadata* listing — directory names, never a
    * data scan (reference S8: GetDeltaPartitions lists common prefixes and
    * splits on '=', agency-delta.go:97-124). At 100 TB this reads N
    * directory entries, not N billion rows.
    */
  def partitionValues(spark: SparkSession, sfDir: String): Seq[String] = {
    val root = ensure(spark, sfDir)
    listImportdates(spark, root)
  }

  private def listImportdates(spark: SparkSession, root: String): Seq[String] = {
    val fs = FileSystem.get(
      new java.net.URI(s"file://$root"),
      spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.contains("="))
      .map(_.split("=", 2))
      .collect { case Array("importdate", v) => v }
  }

  // ----- multi-snapshot history lake (delta_history) ---------------------
  //
  // The reference runs weekly forever (Readme.md:8) but only ever diffs
  // the newest partition pair (agency-delta.go:118-121). The history lake
  // keeps N=4 weekly snapshots so the delta fold can be exercised over the
  // FULL chronology — every consecutive pair, one distributed pass.

  /** The four weekly snapshot dates, oldest first. */
  val historyDates: Seq[String] =
    Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")

  /** Membership modulus per snapshot: snapshot k holds orders keys not
    * divisible by the k-th prime, so consecutive snapshots differ in both
    * directions (keys divisible by p(k) only reappear = added; keys
    * divisible by p(k+1) only vanish = removed).
    */
  private val historyPrimes = Seq(11, 13, 17, 19)

  /** Snapshot k derivation (mirrored verbatim in DeltaQueries' history
    * oracle CTE): price +1 when `o_orderkey % 5 == k` and status suffixed
    * when `(o_orderkey + k) % 9 == 0` — both perturbations move with k,
    * so every consecutive pair has a distinct non-empty UPDATED set. No
    * NULLs, so legacy and null-safe change semantics coincide.
    */
  private def historySnapshot(spark: SparkSession, sfDir: String,
                              k: Int): DataFrame =
    graft.Tables(spark, sfDir, "orders")
      .filter(col(DeltaQueries.key) % historyPrimes(k) =!= 0)
      .select(col(DeltaQueries.key),
        when((col(DeltaQueries.key) + k) % 9 === 0,
          concat(col("o_orderstatus"), lit("U")))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        (col("o_totalprice") +
          when(col(DeltaQueries.key) % 5 === k, lit(1.0d))
            .otherwise(lit(0.0d))).as("o_totalprice"),
        lit(historyDates(k)).as("importdate"))

  def historyRoot(sfDir: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-lake-v$DerivationVersion-$key/agency_history"
  }

  /** Materialize the 4-snapshot history table (idempotent, `_SUCCESS`
    * marker), same `importdate=` layout and multi-file discipline as the
    * two-snapshot lake.
    */
  def ensureHistory(spark: SparkSession, sfDir: String): String = synchronized {
    val root = historyRoot(sfDir)
    val fs = FileSystem.get(
      new java.net.URI(s"file://$root"),
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(root, "_SUCCESS"))) {
      historyDates.indices
        .map(historySnapshot(spark, sfDir, _))
        .reduce(_ unionByName _)
        .repartition(SnapshotFiles, col("importdate"), col(DeltaQueries.key))
        .write.mode("overwrite")
        .partitionBy("importdate")
        .parquet(root)
    }
    root
  }

  /** History partition values from the same metadata-only listing. */
  def historyPartitionValues(spark: SparkSession, sfDir: String): Seq[String] =
    listImportdates(spark, ensureHistory(spark, sfDir))
}
