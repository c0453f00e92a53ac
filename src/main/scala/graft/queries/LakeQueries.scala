package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.LakeSnapshots
import graft.sources.dsv2.{LakeCatalogs, LakeLog}

/** The versioned-lake surface as declared, oracle-checked queries: time
  * travel, version-diff CDC, audit history, rollback, history expiry,
  * and the commit-replaying streaming source — the operations a
  * lakehouse user runs daily next to their DML, each one backed by the
  * [[graft.sources.dsv2.LakeLog]] snapshot log under
  * [[graft.sources.dsv2.LakeTable]].
  *
  * Every query rebuilds its catalog table from the deterministic
  * `prev`/`newest` snapshot derivation shared with [[DeltaQueries]]
  * (the queries mutate their tables, and the harness executes a query
  * more than once), applies committed DML to create history, then
  * exercises one log-backed read path. The oracle states the expected
  * END STATE declaratively over `orders` — version resolution, manifest
  * bookkeeping, and file retention never appear in the oracle, so a
  * hash match proves the log reconstructs exactly the state the DML
  * sequence implies.
  *
  * Scale notes: all log reads are driver-side metadata (one small JSON
  * manifest per version); CDC reads only the files that changed hands
  * between two snapshots, never the table; the streaming source plans
  * each micro-batch from the files its commits ADDED, so planning cost
  * tracks commit size, not table size.
  */
object LakeQueries {
  import DeltaQueries.{key, newest, previous, snapshotCte}

  private def tablePath(dir: String, name: String): String =
    LakeCatalogs.tablePath(dir, name)

  private def tableId(dir: String, name: String): String =
    s"${LakeCatalogs.CatalogName}.${LakeCatalogs.ns(dir)}.$name"

  /** Drop + CTAS from `prev`: leaves the table at v0 (create, empty) /
    * v1 (append, the full prev snapshot) — the common fixture floor.
    */
  private def freshTable(s: SparkSession, dir: String,
                         name: String): String = {
    LakeCatalogs.register(s)
    val tbl = tableId(dir, name)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    previous(s, dir).writeTo(tbl).create()
    tbl
  }

  /** Drop + CTAS of prev's even keys + INSERT of the odd keys: the
    * two-append fixture (v0 create / v1 append / v2 append) that
    * history, compaction, and the streaming source all replay. The
    * `% 2` split is mirrored by the lake_history oracle's counts —
    * change them together.
    */
  private def twoAppendTable(s: SparkSession, dir: String, name: String,
                             repartitionTo: Option[Int] = None): String = {
    LakeCatalogs.register(s)
    val tbl = tableId(dir, name)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    def shape(df: DataFrame): DataFrame =
      repartitionTo.fold(df)(df.repartition(_))
    shape(previous(s, dir).where(col(key) % 2 === 0)).writeTo(tbl).create()
    shape(previous(s, dir).where(col(key) % 2 =!= 0))
      .createOrReplaceTempView(s"${name}_more")
    s.sql(s"INSERT INTO $tbl SELECT * FROM ${name}_more")
    tbl
  }

  /** A wiped scratch dir for a streaming query's sink + checkpoint. */
  private def freshDir(name: String, dir: String): String = {
    val root = dirPath(name, dir)
    val p = new Path(root)
    val fs = p.getFileSystem(new Configuration())
    if (fs.exists(p)) fs.delete(p, true)
    root
  }

  /** The scratch dir's path WITHOUT the wipe — for reads that resolve a
    * sink a memoized fixture ([[graft.Fixtures.once]]) already drained.
    */
  private def dirPath(name: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-lakeq-$name-" +
      LakeCatalogs.ns(dir)

  /** The shared 3-epoch CDC source table for the upsert-sink family
    * (stream_lake_upsert / stream_lake_upsert_cdc /
    * stream_lake_upsert_retire / lake_compact_retire): insert-all,
    * update every 3rd key, tombstone every (k % 5 == 2) key, seq-
    * ordered. The four siblings previously each built a byte-identical
    * private copy (CREATE + 3 INSERTs per query, per sample); the
    * source is READ-ONLY to all of them (each folds it into its own
    * destination through its own checkpoint), so one app-scoped build
    * serves the family — the r16 verdict's shared-fixture item.
    */
  private def upsertEpochSrc(s: SparkSession, dir: String): String = {
    LakeCatalogs.register(s)
    val src = tableId(dir, "lake_ups_src3")
    graft.Fixtures.once(s, dir, "lake_ups_src3") {
      s.sql(s"DROP TABLE IF EXISTS $src")
      s.sql(s"CREATE TABLE $src (k BIGINT, status STRING, " +
        "price DOUBLE, op STRING, seq BIGINT)")
      previous(s, dir).selectExpr(s"$key AS k",
        "o_orderstatus AS status", "o_totalprice AS price",
        "'insert' AS op", "CAST(1 AS BIGINT) AS seq")
        .createOrReplaceTempView("lake_ups3_e1")
      s.sql(s"INSERT INTO $src SELECT * FROM lake_ups3_e1")
      previous(s, dir).where(col(key) % 3 === 0).selectExpr(
        s"$key AS k", "o_orderstatus AS status",
        "o_totalprice * 2 AS price", "'update' AS op",
        "CAST(2 AS BIGINT) AS seq")
        .createOrReplaceTempView("lake_ups3_e2")
      s.sql(s"INSERT INTO $src SELECT * FROM lake_ups3_e2")
      previous(s, dir).where(col(key) % 5 === 2).selectExpr(
        s"$key AS k", "CAST(null AS STRING) AS status",
        "CAST(null AS DOUBLE) AS price", "'delete' AS op",
        "CAST(3 AS BIGINT) AS seq")
        .createOrReplaceTempView("lake_ups3_e3")
      s.sql(s"INSERT INTO $src SELECT * FROM lake_ups3_e3")
    }
    src
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SQL time travel by version id: two committed DMLs after the load,
    // then `VERSION AS OF 2` must reproduce the INTERMEDIATE state —
    // update applied, delete not yet — proving the pinned read resolves
    // the manifest of exactly that snapshot (not head, not the load).
    "lake_time_travel" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_tt")
      graft.Fixtures.once(s, dir, "lake_tt") {
        freshTable(s, dir, "lake_tt")
        s.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 100.0 " +
          s"WHERE $key % 9 = 1")
        s.sql(s"DELETE FROM $tbl WHERE $key % 4 = 0")
      }
      s.sql(s"SELECT * FROM $tbl VERSION AS OF 2")
    }),

    // Time travel by timestamp: resolves to the newest snapshot
    // committed AT OR BEFORE the instant — exercised at the boundary
    // (the exact commit time of v2) with a later commit present, so a
    // wrong rounding direction or a head read both fail the oracle.
    // Manifest timestamps are strictly increasing by construction.
    "lake_timestamp_travel" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_ts")
      graft.Fixtures.once(s, dir, "lake_ts") {
        freshTable(s, dir, "lake_ts")
        s.sql(s"DELETE FROM $tbl WHERE $key % 4 = 0")
        s.sql(s"UPDATE $tbl SET o_orderpriority = 'LATE' WHERE $key % 10 = 1")
      }
      val ts2 = LakeLog.snapshotAt(tablePath(dir, "lake_ts"), 2L).timestampMs
      s.sql(s"SELECT * FROM $tbl TIMESTAMP AS OF timestamp_millis(${ts2}L)")
    }),

    // Version-diff CDC: a full MERGE (update + insert + delete clauses)
    // rewrites the table prev -> newest; changes(v1, v2) reads ONLY the
    // files that changed hands and must yield exactly the row-level
    // delta — carry-over rows of the copy-on-write rewrite appear in
    // both file sets and cancel, updates surface as delete+insert
    // pairs. The oracle is the same delta stated set-algebraically.
    "lake_cdc" -> ((s, dir) => {
      LakeCatalogs.register(s)
      graft.Fixtures.once(s, dir, "lake_cdc") {
        val tbl = freshTable(s, dir, "lake_cdc")
        newest(s, dir).createOrReplaceTempView("lake_cdc_source")
        s.sql(
          s"""MERGE INTO $tbl t USING lake_cdc_source s
             |ON t.$key = s.$key
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      }
      LakeSnapshots.changes(s, tablePath(dir, "lake_cdc"), 1L, 2L)
    }),

    // The audit trail: every commit (create / the CTAS append / a plain
    // INSERT) is a history row with its exact row count. n_files is
    // deliberately not projected — row counts are the layout-independent
    // contract, file counts are a layout detail.
    "lake_history" -> ((s, dir) => {
      LakeCatalogs.register(s)
      graft.Fixtures.once(s, dir, "lake_hist") {
        twoAppendTable(s, dir, "lake_hist")
      }
      LakeSnapshots.history(s, tablePath(dir, "lake_hist"))
        .select("version", "operation", "added_rows")
    }),

    // Rollback restores the pre-delete state as a NEW commit (v3 whose
    // file set equals v1's) — the head read after rollback must equal
    // the original load, and the rolled-past delete stays in history.
    "lake_rollback" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_rb")
      graft.Fixtures.once(s, dir, "lake_rb") {
        freshTable(s, dir, "lake_rb")
        s.sql(s"DELETE FROM $tbl WHERE $key % 3 = 0")
        LakeSnapshots.rollback(tablePath(dir, "lake_rb"), 1L)
      }
      s.table(tbl)
    }),

    // History expiry: drop everything but the head, vacuum unreferenced
    // files — the head read must be byte-identical to before the
    // expire (referenced files are never touched; only manifests and
    // orphaned pre-rewrite files go).
    "lake_expire" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_exp")
      graft.Fixtures.once(s, dir, "lake_exp") {
        freshTable(s, dir, "lake_exp")
        s.sql(s"DELETE FROM $tbl WHERE $key % 3 = 0")
        // grace 0: the declared query must exercise the orphan-DELETION
        // branch, not just manifest expiry (the production default's
        // 10-minute grace would retain every just-written orphan here)
        LakeSnapshots.expire(tablePath(dir, "lake_exp"), keepLast = 1,
          graceMs = 0L)
      }
      s.table(tbl)
    }),

    // Write-audit-publish on a branch: stage an append AND a delete on
    // branch 'stage' (main provably untouched in LakeBranchSpec), then
    // CALL fast_forward publishes both commits onto main atomically.
    // The oracle states the published end state; a fast-forward that
    // dropped a commit, replayed one, or leaked the pre-publish state
    // hash-mismatches.
    "lake_branch_wap" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_wap")
      graft.Fixtures.once(s, dir, "lake_wap") {
        freshTable(s, dir, "lake_wap")
        val cat = LakeCatalogs.CatalogName
        val ns = LakeCatalogs.ns(dir)
        s.sql(s"CALL $cat.system.branch('$ns.lake_wap', 'stage')")
        newest(s, dir).where(col(key) % 13 === 0)
          .createOrReplaceTempView("lake_wap_adds")
        s.sql(s"INSERT INTO $tbl.branch_stage SELECT * FROM lake_wap_adds")
        s.sql(s"DELETE FROM $tbl.branch_stage WHERE $key % 10 = 7")
        s.sql(s"CALL $cat.system.fast_forward('$ns.lake_wap', 'stage')")
      }
      s.table(tbl)
    }),

    // Named refs: CALL tag pins v1, a DML moves the head, and expire
    // drops every untagged old snapshot — yet VERSION AS OF '<tag>'
    // still reconstructs v1 exactly, because a tag is a retention
    // promise (its manifest AND data files survive the vacuum). One
    // query proves tagging, tag resolution, and tag-aware expiry.
    "lake_tag_travel" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_tag")
      graft.Fixtures.once(s, dir, "lake_tag") {
        freshTable(s, dir, "lake_tag")
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.tag(" +
          s"'${LakeCatalogs.ns(dir)}.lake_tag', 'prev-release', 1)")
        s.sql(s"DELETE FROM $tbl WHERE $key % 4 = 0")
        LakeSnapshots.expire(tablePath(dir, "lake_tag"), keepLast = 1,
          graceMs = 0L) // grace 0: the vacuum branch must actually run
      }
      s.sql(s"SELECT * FROM $tbl VERSION AS OF 'prev-release'")
    }),

    // Metadata-only schema evolution, field-id based: ALTER TABLE ADD
    // COLUMN widens the sidecar schema without touching a byte of data
    // — files written before the evolution back-fill null in the
    // reader, the insert after it carries real values — and RENAME
    // COLUMN keeps the column's FIELD ID, so all three vintages (files
    // predating the column, files carrying it as `o_note`, files
    // carrying it as `note`) resolve through one scan. The oracle
    // states the mixed end state under the FINAL name; a reader that
    // mis-shifts columns (the classic name-vs-position bug), drops
    // pre-evolution rows, or loses the renamed column's old files
    // hash-mismatches.
    "lake_schema_evolution" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_evo")
      graft.Fixtures.once(s, dir, "lake_evo") {
        freshTable(s, dir, "lake_evo")
        s.sql(s"ALTER TABLE $tbl ADD COLUMN o_note STRING")
        newest(s, dir).where(col(key) % 13 === 0)
          .withColumn("o_note", concat(lit("n"), col(key)))
          .createOrReplaceTempView("lake_evo_more")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_evo_more")
        // rename round-trip leg 1: the id survives, old files readable
        s.sql(s"ALTER TABLE $tbl RENAME COLUMN o_note TO note")
        newest(s, dir).where(col(key) % 11 === 0)
          .withColumn("note", concat(lit("m"), col(key)))
          .createOrReplaceTempView("lake_evo_more2")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_evo_more2")
      }
      s.table(tbl)
    }),

    // Manifest-stats FILE pruning (graft.sources.dsv2.LakeStats): the
    // CTAS range-partitions prev into key-disjoint files whose min/max
    // land in the snapshot manifest at commit; the narrow BETWEEN then
    // plans by pruning whole files from manifest metadata — zero footer
    // reads for excluded files (pinned in LakeStatsSpec) — and the
    // oracle proves the pruned scan loses no rows.
    "lake_stats_prune" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_statsp")
      graft.Fixtures.once(s, dir, "lake_statsp") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        previous(s, dir).repartitionByRange(8, col(key))
          .writeTo(tbl).create()
      }
      s.table(tbl).where(col(key) >= 1000 && col(key) <= 2000)
    }),

    // Metadata-only COUNT(*) (LakeScanBuilder's aggregate pushdown):
    // the count comes from manifest row counts minus deletion-vector
    // sizes — zero data read (plan pin in LakeStatsSpec); the MOR
    // delete beforehand makes a stale or DV-blind metadata answer miss
    // the oracle.
    "lake_count_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_cntm")
      graft.Fixtures.once(s, dir, "lake_cntm") {
        freshTable(s, dir, "lake_cntm")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7")
      }
      s.sql(s"SELECT count(*) AS n_live FROM $tbl")
    }),

    // Metadata-only MIN/MAX/COUNT(col) (same pushdown, column flavor):
    // answered from per-file manifest bounds — provable only on a
    // DV-free snapshot with every file carrying usable stats (plan pin
    // in LakeStatsSpec); the oracle proves exactness, including the
    // unsigned-UTF-8 string ordering.
    "lake_minmax_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_mmm")
      graft.Fixtures.once(s, dir, "lake_mmm") {
        freshTable(s, dir, "lake_mmm")
      }
      s.sql(s"SELECT min(o_orderkey) AS min_key, " +
        s"max(o_orderkey) AS max_key, " +
        s"min(o_orderstatus) AS min_status, " +
        s"max(o_orderstatus) AS max_status, " +
        s"count(o_orderpriority) AS n_pri FROM $tbl")
    }),

    // Metadata-only type WIDENING (Iceberg's promotion set): INT →
    // BIGINT and FLOAT → DOUBLE change the sidecar schema without
    // touching a file; the pre-promotion vintage upcasts at decode
    // (by field id), the post-promotion vintage writes wide natively —
    // one scan spans both. The oracle restates both vintages
    // declaratively with the same casts, so a reader that mis-upcasts,
    // drops a vintage, or mispruned on the mixed physical types
    // hash-mismatches. (Zero-rewrite + lossy-rejection pinned in
    // LakeSchemaEvolutionSpec.)
    "lake_type_widening" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_twiden")
      graft.Fixtures.once(s, dir, "lake_twiden") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k INT, price FLOAT)")
        previous(s, dir).selectExpr(s"CAST($key AS INT) AS k",
          "CAST(o_totalprice AS FLOAT) AS price")
          .createOrReplaceTempView("lake_twiden_v1")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_twiden_v1")
        s.sql(s"ALTER TABLE $tbl ALTER COLUMN k TYPE BIGINT")
        s.sql(s"ALTER TABLE $tbl ALTER COLUMN price TYPE DOUBLE")
        newest(s, dir).where(col(key) % 13 === 0)
          .selectExpr(s"$key + 10000000000 AS k",
            "o_totalprice AS price")
          .createOrReplaceTempView("lake_twiden_v2")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_twiden_v2")
      }
      s.table(tbl)
    }),

    // HIDDEN PARTITIONING (Iceberg's transform model): the table is
    // PARTITIONED BY (bucket(8, k), months(d)) — tuples live in the
    // manifest, the writer splits rows by tuple (clustered by Spark's
    // RequiresDistributionAndOrdering → one file per partition), and
    // the date-range read plans by PARTITION PRUNING: exact transform
    // arithmetic over manifest metadata, zero I/O per excluded file
    // (pinned in LakePartitionSpec). The oracle restates the range
    // aggregate declaratively — a mispruned month or a row landed in
    // the wrong tuple hash-mismatches.
    "lake_partitioned" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_part")
      // partition-count discipline: months(d) alone (~80 partitions
      // over the order-date span) — composing bucket(8,k) on top would
      // mean ~650 tuples for this row count, a layout nobody should
      // ship (file-per-partition costs scale with the tuple count);
      // bucketing is exercised where it pays, the SPJ query below
      graft.Fixtures.once(s, dir, "lake_part") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(k BIGINT, pri STRING, d DATE, price DOUBLE) " +
          "PARTITIONED BY (months(d))")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderpriority AS pri",
          "o_orderdate AS d", "o_totalprice AS price")
          .createOrReplaceTempView("lake_part_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_part_src")
      }
      s.table(tbl)
        .where("d >= DATE'1995-01-01' AND d < DATE'1995-04-01'")
        .groupBy("pri")
        .agg(count("*").as("n"), sum("price").as("total"))
    }),

    // PARTITION EVOLUTION (Iceberg's spec evolution): the layout is
    // REPLACED — months(d) dropped, bucket(8,k) added — with ZERO
    // files rewritten: the spec list grows, each file's tuple records
    // the spec it was written under, and reads resolve per vintage
    // (the date filter prunes the months vintage, the new bucket
    // dimension the new one; composing bucket ON TOP of months would
    // have been the ~650-tuple layout lake_partitioned's comment warns
    // about). The oracle restates the two-vintage union under the
    // range filter, so a lost vintage, a mispruned month, or rows
    // landing in wrong tuples all mismatch.
    "lake_partition_evolution" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_pevo")
      graft.Fixtures.once(s, dir, "lake_pevo") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, d DATE, price DOUBLE) " +
          "PARTITIONED BY (months(d))")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderdate AS d",
          "o_totalprice AS price").createOrReplaceTempView("lake_pevo_v1")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_pevo_v1")
        val t = s"${LakeCatalogs.ns(dir)}.lake_pevo"
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system" +
          s".drop_partition_field(table => '$t', field => 'months(d)')")
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system" +
          s".add_partition_field(table => '$t', field => 'bucket(8, k)')")
        newest(s, dir).where(col(key) % 3 === 0)
          .selectExpr(s"$key AS k", "o_orderdate AS d",
            "o_totalprice + 2.0 AS price")
          .createOrReplaceTempView("lake_pevo_v2")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_pevo_v2")
      }
      s.table(tbl).where("d >= DATE'1995-06-01'")
    }),

    // PARTITIONS METADATA TABLE (`db.t.partitions`): one row per live
    // partition with typed transform values and manifest-derived LIVE
    // row counts — pure driver metadata, no data read. The oracle
    // recomputes the same inventory with a GROUP BY over the month
    // ordinal, so a mis-tupled file or a wrong live count mismatches.
    "lake_partitions_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_pmeta")
      graft.Fixtures.once(s, dir, "lake_pmeta") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // merge-on-read: the DELETE below lands as deletion vectors, so
        // the inventory must subtract DV positions from manifest rows to
        // report LIVE counts — the interesting half of the contract (a
        // copy-on-write delete would just shrink the files)
        s.sql(s"CREATE TABLE $tbl (k BIGINT, d DATE, price DOUBLE) " +
          "PARTITIONED BY (months(d)) " +
          "TBLPROPERTIES ('write.mode' = 'merge-on-read')")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderdate AS d",
          "o_totalprice AS price").createOrReplaceTempView("lake_pmeta_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_pmeta_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 4 = 1") // live counts, not raw
      }
      s.table(s"$tbl.partitions").selectExpr("d_months", "row_count")
    }),

    // GROUPED METADATA AGGREGATE: GROUP BY an identity partition
    // column + COUNT(*) is answered from the MANIFEST alone — tuple
    // membership is exactly group membership, DV sizes give exact live
    // counts, zero data files open (plan pin + footer-open pin in
    // LakePartitionSpec; a fast path even Delta/Iceberg's Spark
    // integrations skip). The oracle recomputes the counts from rows.
    "lake_groupby_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_gmeta")
      graft.Fixtures.once(s, dir, "lake_gmeta") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (pri STRING, k BIGINT) " +
          "PARTITIONED BY (pri) " +
          "TBLPROPERTIES ('write.mode' = 'merge-on-read')")
        previous(s, dir).selectExpr("o_orderpriority AS pri", s"$key AS k")
          .createOrReplaceTempView("lake_gmeta_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_gmeta_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 4 = 1")
      }
      s.sql(s"SELECT pri, count(*) AS n FROM $tbl GROUP BY pri")
    }),

    // PARTITION-FILTERED METADATA AGGREGATE (r13): the filter on the
    // identity-partition column is CONSUMED by the scan (tuple-exact
    // enforcement — Spark drops its Filter node), which unlocks the
    // aggregate pushdown: the grouped live counts answer from the
    // manifest alone (pinned in LakeMetaFilterSpec). The oracle
    // restates the filtered counts from rows.
    "lake_filtered_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_fmeta")
      graft.Fixtures.once(s, dir, "lake_fmeta") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (pri STRING, k BIGINT) " +
          "PARTITIONED BY (pri) " +
          "TBLPROPERTIES ('write.mode' = 'merge-on-read')")
        previous(s, dir).selectExpr("o_orderpriority AS pri", s"$key AS k")
          .createOrReplaceTempView("lake_fmeta_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_fmeta_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 4 = 1")
      }
      s.sql(s"SELECT pri, count(*) AS n FROM $tbl " +
        "WHERE pri IN ('1-URGENT', '3-MEDIUM') GROUP BY pri")
    }),

    // PER-FILE BLOOM INDEX point lookup (r13): the load is spread
    // round-robin so every file's o_orderkey range overlaps every
    // literal — min/max bounds prune nothing and only the
    // writer-built blooms keep the lookup from opening every footer
    // (footer-open pins in LakeBloomSpec). The oracle restates the
    // IN-list over the source rows; keys absent at a given scale
    // factor simply match nothing on both sides.
    "lake_bloom_lookup" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_bloom")
      graft.Fixtures.once(s, dir, "lake_bloom") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING, price DOUBLE) " +
          "TBLPROPERTIES ('bloom.columns'='k')")
        previous(s, dir).selectExpr(s"$key AS k",
          "o_orderpriority AS pri", "o_totalprice AS price")
          .repartition(8)
          .createOrReplaceTempView("lake_bloom_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_bloom_src")
      }
      s.sql(s"SELECT k, pri, price FROM $tbl " +
        "WHERE k IN (1, 2, 3, 5, 7, 32, 33, 34, 68, 999999999)")
    }),

    // HIDDEN-PARTITIONING FILTERED METADATA AGGREGATE (r13): the range
    // filter on the months(d)-bucketed DATE column is month-ALIGNED, so
    // the scan consumes it outright (strict projection: each month
    // partition falls wholly in or out of the range — no identity
    // column involved), which lets the COUNT/MIN/MAX answer from the
    // manifest alone (plan and zero-footer pins in
    // LakeHiddenConsumptionSpec). The
    // month-aligned DELETE drops whole partitions copy-on-write — the
    // metadata answer must see them gone. The oracle restates the
    // surviving range from rows.
    "lake_hidden_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_hmeta")
      graft.Fixtures.once(s, dir, "lake_hmeta") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, d DATE) " +
          "PARTITIONED BY (months(d))")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderdate AS d")
          .createOrReplaceTempView("lake_hmeta_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_hmeta_src")
        s.sql(s"DELETE FROM $tbl WHERE d < DATE'1995-07-01'")
      }
      s.sql(s"SELECT count(*) AS n, min(k) AS lo_k, max(k) AS hi_k, " +
        "min(d) AS lo_d, max(d) AS hi_d " +
        s"FROM $tbl WHERE d >= DATE'1995-01-01' AND d < DATE'1998-01-01'")
    }),

    // NATIVE STREAMING UPSERT (r14): a keyed CDC stream (insert/
    // update/delete events over three commits = three epochs) folds
    // into a lake table through the equality-delete sink
    // ([[graft.sources.dsv2.LakeUpsertWrite]]) — each epoch commits
    // O(epoch) work (one key-tombstone sidecar + surviving post-
    // images), NOT a foreachBatch MERGE's O(table) join; readers
    // subtract tombstoned keys per file by the sequencing rule. The
    // oracle restates the fold declaratively: last event per key,
    // deletes absent — the batch-MERGE semantics.
    "stream_lake_upsert" -> ((s, dir) => {
      val src = upsertEpochSrc(s, dir)
      val dst = tableId(dir, "lake_upsdst")
      graft.Fixtures.once(s, dir, "lake_upsdst") {
        s.sql(s"DROP TABLE IF EXISTS $dst")
        s.sql(s"CREATE TABLE $dst (k BIGINT, status STRING, " +
          "price DOUBLE, op STRING, seq BIGINT)")
        val out = freshDir("upsert", dir)
        val q = s.readStream.option("maxCommitsPerBatch", 1).table(src)
          .writeStream
          .option("checkpointLocation", s"$out/ckpt")
          .option("upsert.keys", "k")
          .option("upsert.order", "seq")
          .option("upsert.tombstone", "op = 'delete'")
          .trigger(Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
      }
      s.table(dst)
    }),

    // CDC THROUGH EQUALITY DELETES (r15): the upsert sink's own table
    // is CDC-able onward — lake-to-lake pipelines no longer dead-end
    // at the flagship sink. Each epoch's events reconstruct from
    // commit metadata alone: the ref's key set is the delete side
    // (pre-images from prior files, scoped by sequencing + key
    // statistics), the epoch's own post-images the insert side
    // (collapsed insert/delete typing). The oracle restates the event
    // arithmetic declaratively: inserts = every epoch's post-images;
    // deletes = each epoch's keys that had a LIVE prior version.
    "stream_lake_upsert_cdc" -> ((s, dir) => {
      val src = upsertEpochSrc(s, dir)
      val dst = tableId(dir, "lake_ucdst")
      graft.Fixtures.once(s, dir, "lake_ucdst") {
        s.sql(s"DROP TABLE IF EXISTS $dst")
        s.sql(s"CREATE TABLE $dst (k BIGINT, status STRING, " +
          "price DOUBLE, op STRING, seq BIGINT)")
        val out = freshDir("upsert_cdc", dir)
        val q = s.readStream.option("maxCommitsPerBatch", 1).table(src)
          .writeStream
          .option("checkpointLocation", s"$out/ckpt")
          .option("upsert.keys", "k")
          .option("upsert.order", "seq")
          .option("upsert.tombstone", "op = 'delete'")
          .trigger(Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
      }
      s.table(s"$dst.changes")
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"))
        .orderBy("change_type")
    }),

    // MAINTENANCE UNDER LIVE REFS (r15): compact on a live-ref upsert
    // table FOLDS retirement into the pass — one dataChange=false
    // commit that merges the epochs' small post-image files,
    // materializes touched DVs, applies AND retires every eq ref
    // (LakeSnapshots.retireCore). A continuously-upserted table is
    // maintainable without stopping the stream. The oracle restates
    // the fold — retirement must preserve the exact state.
    "lake_compact_retire" -> ((s, dir) => {
      val src = upsertEpochSrc(s, dir)
      val dst = tableId(dir, "lake_crdst")
      graft.Fixtures.once(s, dir, "lake_crdst") {
        s.sql(s"DROP TABLE IF EXISTS $dst")
        s.sql(s"CREATE TABLE $dst (k BIGINT, status STRING, " +
          "price DOUBLE, op STRING, seq BIGINT)")
        val out = freshDir("compact_retire", dir)
        val q = s.readStream.option("maxCommitsPerBatch", 1).table(src)
          .writeStream
          .option("checkpointLocation", s"$out/ckpt")
          .option("upsert.keys", "k")
          .option("upsert.order", "seq")
          .option("upsert.tombstone", "op = 'delete'")
          .trigger(Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.compact(" +
          s"'${dst.split('.').drop(1).mkString(".")}', 134217728)")
      }
      s.table(dst)
    }),

    // ROW-LEVEL DML UNDER LIVE REFS (r15): DELETE + UPDATE run against
    // the upsert sink's own table WITHOUT retiring first — the COW
    // rewrite's source scan subtracts eq-deleted rows (they are never
    // materialized back to life), outputs' fresh add versions
    // legitimately escape the refs, and refs stay live for untouched
    // files (the eq-set-stability guard closes the mid-op race). The
    // oracle composes the fold with the DML declaratively.
    "lake_dml_under_refs" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val dst = tableId(dir, "lake_dmdst")
      graft.Fixtures.once(s, dir, "lake_dmdst") {
        val src = tableId(dir, "lake_dmsrc")
        s.sql(s"DROP TABLE IF EXISTS $src")
        s.sql(s"CREATE TABLE $src (k BIGINT, status STRING, " +
          "price DOUBLE, op STRING, seq BIGINT)")
        previous(s, dir).selectExpr(s"$key AS k",
          "o_orderstatus AS status", "o_totalprice AS price",
          "'insert' AS op", "CAST(1 AS BIGINT) AS seq")
          .createOrReplaceTempView("lake_dm_e1")
        s.sql(s"INSERT INTO $src SELECT * FROM lake_dm_e1")
        previous(s, dir).where(col(key) % 3 === 0).selectExpr(
          s"$key AS k", "o_orderstatus AS status",
          "o_totalprice * 2 AS price", "'update' AS op",
          "CAST(2 AS BIGINT) AS seq")
          .createOrReplaceTempView("lake_dm_e2")
        s.sql(s"INSERT INTO $src SELECT * FROM lake_dm_e2")
        s.sql(s"DROP TABLE IF EXISTS $dst")
        s.sql(s"CREATE TABLE $dst (k BIGINT, status STRING, " +
          "price DOUBLE, op STRING, seq BIGINT)")
        val out = freshDir("dml_refs", dir)
        val q = s.readStream.option("maxCommitsPerBatch", 1).table(src)
          .writeStream
          .option("checkpointLocation", s"$out/ckpt")
          .option("upsert.keys", "k")
          .option("upsert.order", "seq")
          .trigger(Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
        // refs from both epochs are live; DML runs against them
        s.sql(s"DELETE FROM $dst WHERE k % 5 = 2")
        s.sql(s"UPDATE $dst SET status = 'X' WHERE k % 7 = 0")
      }
      s.table(dst)
    }),

    // SINK-SIDE AUTO-RETIREMENT (r15): `upsert.retire.maxRefs=1` runs
    // the retirement rewrite inline between epochs — the stream never
    // stops, read debt stays bounded by the knob, and the metadata
    // fast paths come back after every retirement. The oracle is the
    // same declarative fold: inline retirement must preserve state.
    "stream_lake_upsert_retire" -> ((s, dir) => {
      val src = upsertEpochSrc(s, dir)
      val dst = tableId(dir, "lake_ardst")
      graft.Fixtures.once(s, dir, "lake_ardst") {
        s.sql(s"DROP TABLE IF EXISTS $dst")
        s.sql(s"CREATE TABLE $dst (k BIGINT, status STRING, " +
          "price DOUBLE, op STRING, seq BIGINT)")
        val out = freshDir("upsert_retire", dir)
        val q = s.readStream.option("maxCommitsPerBatch", 1).table(src)
          .writeStream
          .option("checkpointLocation", s"$out/ckpt")
          .option("upsert.keys", "k")
          .option("upsert.order", "seq")
          .option("upsert.tombstone", "op = 'delete'")
          .option("upsert.retire.maxRefs", "1")
          .trigger(Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
      }
      s.table(dst)
    }),

    // V2 TRANSFORM-PREDICATE PUSHDOWN (r14): an EXPLICITLY-written
    // transform predicate over the catalog's own bound function —
    // `years(d) = 25` — prunes the years-partitioned table to the
    // matching year's files, a shape the V1 Filter API structurally
    // cannot carry (SupportsPushDownV2Filters delivers it as a
    // UserDefinedScalarFunc equality; counterized file-pruning pins in
    // LakeV2PredicateSpec). The predicate stays RESIDUAL (Spark
    // re-evaluates rows), so correctness never rides on the pruning —
    // the oracle restates the year split declaratively.
    "lake_v2_predicate" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_v2p")
      graft.Fixtures.once(s, dir, "lake_v2p") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, d DATE) " +
          "PARTITIONED BY (years(d))")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderdate AS d")
          .createOrReplaceTempView("lake_v2p_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_v2p_src")
      }
      // years() ordinals count from 1970: 1995 -> 25
      s.sql(s"SELECT count(*) AS n, min(k) AS lo_k, max(k) AS hi_k " +
        s"FROM $tbl WHERE ${LakeCatalogs.CatalogName}.system.years(d) = 25")
    }),

    // PUSHED-LIMIT FILE BOUNDING (r13): a bare LIMIT probe plans only
    // the files whose exact proven live rows cover the limit (one or
    // two of the eight here — plan pins in LakeLimitSpec), the
    // interactive `LIMIT 10` contract a 100 TB table breaks without
    // it. The count wrapper makes the nondeterministic row choice
    // deterministic: min(limit, table rows) on both engines at every
    // scale factor (below 2500 rows the bounding keeps everything and
    // the count is the table's).
    "lake_limit_probe" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_lim")
      graft.Fixtures.once(s, dir, "lake_lim") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING)")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderpriority AS pri")
          .repartition(8)
          .createOrReplaceTempView("lake_lim_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_lim_src")
      }
      s.sql(s"SELECT count(*) AS n " +
        s"FROM (SELECT k FROM $tbl LIMIT 2500) probe")
    }),

    // PUSHED TOP-N FILE BOUNDING (r13): ORDER BY k LIMIT n against a
    // key-range-clustered load (the layout a time/sequence-ordered
    // ingest produces) plans only the files whose manifest bounds can
    // reach the top n — best-bound-beaten arithmetic over file stats,
    // Spark's TakeOrdered re-sorts the survivors (plan + null-tier +
    // DV-conservatism pins in LakeLimitSpec). Unique keys make the
    // result deterministic; the oracle restates it over the source.
    "lake_topn_keys" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_topn")
      graft.Fixtures.once(s, dir, "lake_topn") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING, price DOUBLE)")
        previous(s, dir).selectExpr(s"$key AS k",
          "o_orderpriority AS pri", "o_totalprice AS price")
          .repartitionByRange(8, col("k")).sortWithinPartitions("k")
          .createOrReplaceTempView("lake_topn_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_topn_src")
      }
      s.sql(s"SELECT k, pri, price FROM $tbl ORDER BY k LIMIT 25")
    }),

    // FILE-INVENTORY METADATA TABLE (r13): `db.t.files` — one row per
    // live data file with physical/live rows, DV debt, size, stats
    // coverage (the changes/partitions/files metadata family,
    // Iceberg's spellings). Pure manifest + one listing; the aggregate
    // here pins the inventory's arithmetic against the oracle's row
    // recount: 8 files from the 8-task load, each carrying one DV
    // after the MOR delete, live = physical minus deleted.
    "lake_files_inventory" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_finv")
      graft.Fixtures.once(s, dir, "lake_finv") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING) " +
          "TBLPROPERTIES ('write.mode'='merge-on-read')")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderpriority AS pri")
          .repartition(8)
          .createOrReplaceTempView("lake_finv_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_finv_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 5 = 2")
      }
      s.table(s"$tbl.files").selectExpr(
        "count(*) AS files", "sum(rows) AS physical",
        "sum(live_rows) AS live", "sum(dv_count) AS dvs")
    }),

    // EXACT SMALL-REF INVENTORY (r16): the files inventory under a
    // LIVE equality ref WITHIN the key-scoping cap answers EXACT live
    // counts — one bounded key-column probe per attached file prices
    // the key matches ([[graft.sources.dsv2.LakeEq.countMatches]]),
    // DV-dead rows never double-subtracted — where r15 served NULL.
    // NULL remains only above the cap (exact or NULL, never wrong).
    // Fixture: a MOR load with DVs (k % 7 = 3 deleted) plus one
    // engine-committed 5-key ref; the oracle recounts from rows.
    "lake_files_inventory_eq" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_finv_eq")
      graft.Fixtures.once(s, dir, "lake_finv_eq") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING) " +
          "TBLPROPERTIES ('write.mode'='merge-on-read')")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderpriority AS pri")
          .repartition(4)
          .createOrReplaceTempView("lake_finv_eq_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_finv_eq_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 7 = 3")
        val path = tablePath(dir, "lake_finv_eq")
        val side = graft.sources.dsv2.LakeEq.write(path, Seq("k"),
          Seq("1", "2", "3", "4", "5"))
        graft.sources.dsv2.LakeLog.commit(path, "eq_fixture", Seq.empty,
          Seq.empty, 0L, dataChange = false,
          eqAdded = Seq((side, Seq("k"), 5L)))
      }
      s.table(s"$tbl.files").selectExpr(
        "count(*) AS files", "sum(rows) AS physical",
        "sum(live_rows) AS live", "sum(dv_count) AS dvs")
    }),

    // DELETE-DEBT INVENTORY (r14): `db.t.deletes` — one row per live
    // delete artifact of BOTH contracts: position DVs (target file +
    // position count) and equality refs (commit version, key columns,
    // key count, how many current files the sequencing rule AND
    // key-statistics scoping (r15, [[LakeEq.scopedApplicable]]) make
    // them apply to — exactly what a rewrite_deletes would touch).
    // THE retirement-planning surface: the files/partitions
    // inventories decline under live eq refs precisely because their
    // live-count promises break, and this table is how a user SEES
    // the debt those declines point at. Fixture: a key-range-
    // clustered MOR load (8 range-disjoint files, each DV'd by the
    // DELETE) plus one engine-committed eq ref tombstoning keys 1..3
    // — key stats scope it to the ONE file whose band holds those
    // keys; the oracle restates the arithmetic.
    "lake_deletes_inventory" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_dinv")
      graft.Fixtures.once(s, dir, "lake_dinv") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING) " +
          "TBLPROPERTIES ('write.mode'='merge-on-read')")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderpriority AS pri")
          .repartitionByRange(8, col("k"))
          .createOrReplaceTempView("lake_dinv_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_dinv_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 5 = 2")
        // one equality ref tombstoning keys 1..3, committed through the
        // engine's own channel (what an upsert epoch seals)
        val path = tablePath(dir, "lake_dinv")
        val side = graft.sources.dsv2.LakeEq.write(path, Seq("k"),
          Seq("1", "2", "3"))
        graft.sources.dsv2.LakeLog.commit(path, "eq_fixture", Seq.empty,
          Seq.empty, 0L, dataChange = false,
          eqAdded = Seq((side, Seq("k"), 3L)))
      }
      s.table(s"$tbl.deletes").groupBy("kind").agg(
        count(lit(1)).as("refs"),
        sum(col("entries")).as("entries"),
        sum(col("applies_to_files")).as("applies"))
        .orderBy("kind")
    }),

    // DECLARED WRITE SORT ORDER (r13): `write.sort.columns` makes every
    // INSERT request an ordered (range) write distribution, so a
    // deliberately scrambled load still lands range-disjoint sorted
    // files — the layout that gives min/max pruning, row-group
    // pruning, and LIMIT/TopN bounding their power (disjointness +
    // plan pins in LakeLimitSpec). The range probe here reads back
    // exactly the keyspace slice; the oracle restates it from rows.
    "lake_sorted_write" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_sorted")
      graft.Fixtures.once(s, dir, "lake_sorted") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING) " +
          "TBLPROPERTIES ('write.sort.columns'='k')")
        previous(s, dir).selectExpr(s"$key AS k", "o_orderpriority AS pri")
          .repartition(8)
          .createOrReplaceTempView("lake_sorted_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_sorted_src")
      }
      s.sql(s"SELECT k, pri FROM $tbl WHERE k >= 100 AND k < 700")
    }),

    // DECIMAL through the full lake lifecycle: a money column stored
    // as the connector's INT64-unscaled parquet DECIMAL, driven
    // through load → merge-on-read DELETE → time-travel read, with an
    // exact grouped sum over the survivors. Exactness is the point:
    // decimal sums are fold-order-free, so bucketed/partitioned folds
    // can never drift from the oracle (the failure class DOUBLE money
    // exhibited in r11).
    "lake_decimal_dml" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_dec")
      // two decimal vintages through one lifecycle: price is the
      // INT64-unscaled narrow encoding, big is a DECIMAL(38,4) stored
      // as FIXED_LEN_BYTE_ARRAY (unscaled values ~10²⁴ — far past any
      // long) whose per-group sums/extremes must round-trip exactly;
      // results ship as canonical strings so both engines state the
      // full 38-digit value with no double conversion in the loop
      graft.Fixtures.once(s, dir, "lake_dec") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, pri STRING, " +
          "price DECIMAL(12,2), big DECIMAL(38,4)) " +
          "TBLPROPERTIES ('write.mode'='merge-on-read')")
        previous(s, dir).selectExpr(s"$key AS k",
          "o_orderpriority AS pri",
          "CAST(o_totalprice AS DECIMAL(12,2)) AS price",
          // magnitude from key % 100000, NOT the raw key: per-group sums
          // must stay inside DECIMAL(38,4) (34 integer digits) at ANY
          // scale factor — the raw key grows with sf and a 10x replica's
          // 9-digit keys would overflow the grouped sum under ANSI
          s"CAST(concat(cast($key % 100000 AS STRING), " +
            "'00000000000000000000.000', " +
            s"cast($key % 10 AS STRING)) AS DECIMAL(38,4)) AS big")
          .createOrReplaceTempView("lake_dec_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_dec_src")
        s.sql(s"DELETE FROM $tbl WHERE k % 7 = 3")
      }
      s.sql(s"SELECT pri, count(*) AS n, " +
        s"CAST(sum(price) AS DOUBLE) AS total, " +
        s"CAST(min(price) AS DOUBLE) AS lo, " +
        s"CAST(max(price) AS DOUBLE) AS hi, " +
        s"CAST(sum(big) AS STRING) AS big_total, " +
        s"CAST(min(big) AS STRING) AS big_lo, " +
        s"CAST(max(big) AS STRING) AS big_hi " +
        s"FROM $tbl WHERE price > 1000.00 GROUP BY pri")
    }),

    // GROUPED METADATA MIN/MAX: per-group extremes answered from
    // per-file manifest stats joined to partition tuples — the
    // per-file min/max folded within a tuple group IS the group
    // extremum (strict answerability: every file stats-backed, zero
    // DVs, no floats; zero footer opens pinned in LakePartitionSpec).
    // The oracle recomputes the extremes from rows.
    "lake_groupby_minmax_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_gmm")
      graft.Fixtures.once(s, dir, "lake_gmm") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (pri STRING, k BIGINT, d DATE) " +
          "PARTITIONED BY (pri)")
        previous(s, dir).selectExpr("o_orderpriority AS pri",
          s"$key AS k", "o_orderdate AS d")
          .createOrReplaceTempView("lake_gmm_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_gmm_src")
      }
      s.sql(s"SELECT pri, count(*) AS n, min(k) AS min_k, " +
        s"max(k) AS max_k, min(d) AS min_d, max(d) AS max_d " +
        s"FROM $tbl GROUP BY pri")
    }),

    // GROUPED METADATA SUM/AVG: per-partition sums answered from
    // WRITER-harvested exact per-file column sums in the manifest
    // (parquet footers carry no sums — the writer folds them as rows
    // stream through, zero extra read I/O), plus exact COUNT. The
    // abs-sum bound proves the row scan could not have overflowed in
    // any fold order, so the metadata answer is exact under ANSI and
    // legacy alike (zero footer opens + overflow/DV/compaction decline
    // pins in LakeSumMetaSpec). The oracle recomputes the sums from
    // rows; the decimal total ships as a canonical string.
    "lake_sum_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_summ")
      graft.Fixtures.once(s, dir, "lake_summ") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (pri STRING, k BIGINT, " +
          "price DECIMAL(12,2)) PARTITIONED BY (pri)")
        previous(s, dir).selectExpr("o_orderpriority AS pri",
          s"$key AS k", "CAST(o_totalprice AS DECIMAL(12,2)) AS price")
          .createOrReplaceTempView("lake_summ_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_summ_src")
      }
      s.sql(s"SELECT pri, count(*) AS n, sum(k) AS sum_k, " +
        s"avg(k) AS avg_k, CAST(sum(price) AS STRING) AS total " +
        s"FROM $tbl GROUP BY pri")
    }),

    // COST-BASED OPTIMIZATION over lake tables: the three relations
    // carry writer-built KMV distinct-count sketches on their join
    // keys ('stats.ndv.columns'), reported through the DSv2 column-
    // statistics surface into catalyst ColumnStat — under
    // spark.sql.cbo.enabled (+ joinReorder) the optimizer estimates
    // join cardinalities from real NDV instead of assuming worst-case
    // key multiplicity (consumption + estimate-accuracy pins in
    // LakeCboStatsSpec). Statistics steer plan CHOICE only, so the
    // oracle proves whatever plan CBO picked computes the exact join.
    "lake_cbo_join" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val ft = tableId(dir, "lake_cbof")
      val ct = tableId(dir, "lake_cboc")
      val nt = tableId(dir, "lake_cbon")
      graft.Fixtures.once(s, dir, "lake_cbo") {
        Seq(ft, ct, nt).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        s.sql(s"CREATE TABLE $ft (ck BIGINT, price DECIMAL(12,2)) " +
          "TBLPROPERTIES ('stats.ndv.columns'='ck')")
        s.sql(s"CREATE TABLE $ct (ck BIGINT, nk BIGINT) " +
          "TBLPROPERTIES ('stats.ndv.columns'='ck,nk')")
        s.sql(s"CREATE TABLE $nt (nk BIGINT, nation STRING) " +
          "TBLPROPERTIES ('stats.ndv.columns'='nk')")
        previous(s, dir).selectExpr("o_custkey AS ck",
          "CAST(o_totalprice AS DECIMAL(12,2)) AS price")
          .createOrReplaceTempView("lake_cbo_f")
        graft.Tables(s, dir, "customer")
          .selectExpr("c_custkey AS ck", "c_nationkey AS nk")
          .createOrReplaceTempView("lake_cbo_c")
        graft.Tables(s, dir, "nation")
          .selectExpr("n_nationkey AS nk", "n_name AS nation")
          .createOrReplaceTempView("lake_cbo_n")
        s.sql(s"INSERT INTO $ft SELECT * FROM lake_cbo_f")
        s.sql(s"INSERT INTO $ct SELECT * FROM lake_cbo_c")
        s.sql(s"INSERT INTO $nt SELECT * FROM lake_cbo_n")
      }
      val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
      val prevJr = s.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        s.sql(
          s"""SELECT n.nation AS nation, count(*) AS n,
             |       CAST(sum(f.price) AS DOUBLE) AS total
             |FROM $ft f JOIN $ct c ON f.ck = c.ck
             |           JOIN $nt n ON c.nk = n.nk
             |GROUP BY n.nation""".stripMargin)
          .localCheckpoint(true) // materialize under the CBO confs
      } finally {
        s.conf.set("spark.sql.cbo.enabled", prevCbo)
        s.conf.set("spark.sql.cbo.joinReorder.enabled", prevJr)
      }
    }),

    // CHECK CONSTRAINTS (Delta's ADD CONSTRAINT, as check.<name>
    // properties): every row-writing path enforces per row — the
    // violating INSERT below must fail loud and land NOTHING (a
    // leaked row breaks n/total against the oracle) — and a filter
    // provably contradicting the declared domain (price < 0 under
    // check 'price >= 0') plans ZERO files, answered as the n_neg
    // scalar subquery (enforcement + pruning + time-travel-soundness
    // pins in LakeChecksSpec).
    "lake_check_enforce" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_chk")
      graft.Fixtures.once(s, dir, "lake_chk") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, price DECIMAL(12,2)) " +
          "TBLPROPERTIES ('check.price_pos'='price >= 0.00')")
        previous(s, dir).selectExpr(s"$key AS k",
          "CAST(o_totalprice AS DECIMAL(12,2)) AS price")
          .createOrReplaceTempView("lake_chk_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_chk_src")
        // the violating write must fail and leave the table untouched
        try {
          s.sql(s"INSERT INTO $tbl VALUES (999999999, -1.00)")
          throw new IllegalStateException(
            "check constraint failed to enforce — the violating row landed")
        } catch {
          case e: IllegalStateException => throw e
          case _: Exception => () // the enforcement failure, expected
        }
      }
      s.sql(s"SELECT count(*) AS n, CAST(sum(price) AS STRING) AS total, " +
        s"(SELECT count(*) FROM $tbl WHERE price < 0.00) AS n_neg " +
        s"FROM $tbl")
    }),

    // ANALYZE BACKFILL (CALL system.analyze): compaction rewrites are
    // plain df.write output — correct rows, no write-time facts — so
    // the compacted table DECLINES metadata SUM until one analyze scan
    // recomputes exact per-file sums from the immutable bytes and
    // amends the manifest (dataChange=false). The final aggregate must
    // then serve from the manifest with the same exactness the oracle
    // recomputes from rows (decline/restore/DV-skip pins in
    // LakeAnalyzeSpec).
    "lake_analyze_meta" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_anlz")
      graft.Fixtures.once(s, dir, "lake_anlz") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, price DECIMAL(12,2))")
        previous(s, dir).selectExpr(s"$key AS k",
          "CAST(o_totalprice AS DECIMAL(12,2)) AS price")
          .repartition(4)
          .createOrReplaceTempView("lake_anlz_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_anlz_src")
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.compact(" +
          s"'${LakeCatalogs.ns(dir)}.lake_anlz', 134217728)")
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.analyze(" +
          s"'${LakeCatalogs.ns(dir)}.lake_anlz')")
      }
      s.sql(s"SELECT count(*) AS n, sum(k) AS sum_k, avg(k) AS avg_k, " +
        s"CAST(sum(price) AS STRING) AS total FROM $tbl")
    }),

    // STATS-PROVEN FILTER CONSUMPTION: the WHERE clause is provable
    // from per-file manifest facts (known-zero nulls, whole [min,max]
    // inside the filter region), so the scan CONSUMES it — Spark
    // drops the Filter node and the aggregate still pushes, answering
    // count/sums from the manifest with zero data read UNDER the
    // filter. No contract trust: the proof is re-verified per plan and
    // declines loud on any file it can't vouch for (proof/residual/
    // null/time-travel/analyze-composition pins in
    // LakeProofConsumptionSpec). The oracle restates the filtered
    // aggregate from rows.
    "lake_proven_filter" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_prov")
      graft.Fixtures.once(s, dir, "lake_prov") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (k BIGINT, price DECIMAL(12,2))")
        previous(s, dir).selectExpr(s"$key AS k",
          "CAST(o_totalprice AS DECIMAL(12,2)) AS price")
          .createOrReplaceTempView("lake_prov_src")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_prov_src")
      }
      s.sql(s"SELECT count(*) AS n, sum(k) AS sum_k, " +
        s"CAST(sum(price) AS STRING) AS total FROM $tbl " +
        s"WHERE k >= 0 AND price IS NOT NULL")
    }),

    // DYNAMIC PARTITION OVERWRITE: the INSERT OVERWRITE replaces
    // exactly the partitions the write PRODUCES (here the single
    // '1-URGENT' identity partition), never the rest — resolved to a
    // file-level replace at commit, atomic under the manifest's
    // conflict rules. The oracle restates the end state: untouched
    // partitions from the load, the overwritten one from the new data.
    "lake_dynamic_overwrite" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_dynow")
      graft.Fixtures.once(s, dir, "lake_dynow") {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (pri STRING, k BIGINT, price DOUBLE) " +
          "PARTITIONED BY (pri)")
        previous(s, dir).selectExpr("o_orderpriority AS pri",
          s"$key AS k", "o_totalprice AS price")
          .createOrReplaceTempView("lake_dynow_v1")
        s.sql(s"INSERT INTO $tbl SELECT * FROM lake_dynow_v1")
        newest(s, dir).where("o_orderpriority = '1-URGENT'")
          .selectExpr("o_orderpriority AS pri", s"$key AS k",
            "o_totalprice + 0.5 AS price")
          .createOrReplaceTempView("lake_dynow_v2")
        val prevMode = s.conf.get(
          "spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          s.sql(s"INSERT OVERWRITE $tbl SELECT * FROM lake_dynow_v2")
        } finally s.conf.set(
          "spark.sql.sources.partitionOverwriteMode", prevMode)
      }
      s.table(tbl)
    }),

    // STORAGE-PARTITIONED JOIN: fact and dim co-bucketed on the join
    // key; with KeyGroupedPartitioning reported by both scans the join
    // plans with ZERO Exchange on either side (plan pinned in
    // LakePartitionSpec; broadcast disabled here so the SPJ path — not
    // a broadcast — serves the join). At 100 TB this is the difference
    // between shuffling two fact tables and shuffling nothing.
    "lake_spj" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val ft = tableId(dir, "lake_spjf")
      val dt = tableId(dir, "lake_spjd")
      graft.Fixtures.once(s, dir, "lake_spj") {
        s.sql(s"DROP TABLE IF EXISTS $ft")
        s.sql(s"DROP TABLE IF EXISTS $dt")
        // a REAL DECIMAL money column (INT64-unscaled in the connector's
        // parquet): exact sums are fold-order-free, so the storage-
        // partitioned per-bucket fold can never diverge from DuckDB's
        // scan order (r11's one red row, with DOUBLE storage)
        s.sql(s"CREATE TABLE $ft (ck BIGINT, price DECIMAL(12,2)) " +
          "PARTITIONED BY (bucket(8, ck))")
        s.sql(s"CREATE TABLE $dt (ck BIGINT, seg STRING) " +
          "PARTITIONED BY (bucket(8, ck))")
        previous(s, dir)
          .selectExpr("o_custkey AS ck",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS price")
          .createOrReplaceTempView("lake_spj_f")
        graft.Tables(s, dir, "customer")
          .selectExpr("c_custkey AS ck", "c_mktsegment AS seg")
          .createOrReplaceTempView("lake_spj_d")
        s.sql(s"INSERT INTO $ft SELECT * FROM lake_spj_f")
        s.sql(s"INSERT INTO $dt SELECT * FROM lake_spj_d")
      }
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.sql(
          s"""SELECT d.seg AS seg, count(*) AS n,
             |       CAST(sum(f.price) AS DOUBLE) AS total
             |FROM $ft f JOIN $dt d ON f.ck = d.ck
             |GROUP BY d.seg""".stripMargin)
          .localCheckpoint(true) // materialize under the SPJ conf
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }),

    // MERGE-ON-READ DML (deletion vectors — SupportsDelta): the DELETE
    // writes POSITIONS instead of rewriting files (zero data files
    // change hands — pinned in LakeMorSpec); every scan subtracts the
    // DV at read time. The oracle states the surviving rows
    // declaratively, so a reader that mis-applies positions (off by
    // one, wrong file, wrong row group) hash-mismatches.
    "lake_mor_delete" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_mord")
      graft.Fixtures.once(s, dir, "lake_mord") {
        freshTable(s, dir, "lake_mord")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7")
      }
      s.table(tbl)
    }),

    // MOR MERGE: matched updates flow as delete+insert (old position
    // DV'd, new row in a fresh file), unmatched rows insert — one
    // delta write, no copy-on-write rewrite. Scan reassembles all
    // three vintages (original minus DVs, plus the delta files).
    "lake_mor_merge" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_morm")
      graft.Fixtures.once(s, dir, "lake_morm") {
        freshTable(s, dir, "lake_morm")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        // %9: overlaps prev (which excludes %13 keys) so the MERGE has
        // real MATCHED rows, and its %13∩%9 slice exercises NOT MATCHED
        newest(s, dir).where(col(key) % 9 === 0)
          .createOrReplaceTempView("lake_morm_src")
        s.sql(
          s"""MERGE INTO $tbl t USING lake_morm_src s
             |ON t.$key = s.$key
             |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'MOR-UPDATED'
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      s.table(tbl)
    }),

    // MOR UPDATE: the standalone UPDATE statement through the same
    // delta path (representUpdateAsDeleteAndInsert) — stale positions
    // DV'd, updated rows land in a fresh insert file, one commit. The
    // oracle restates the update declaratively over prev.
    "lake_mor_update" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_moru")
      graft.Fixtures.once(s, dir, "lake_moru") {
        freshTable(s, dir, "lake_moru")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 10.0, " +
          s"o_orderstatus = 'U' WHERE o_orderkey % 10 = 7")
      }
      s.table(tbl)
    }),

    // DV materialization: CALL system.rewrite_deletes rewrites DV'd
    // files with dead positions dropped as a dataChange=false commit —
    // live rows identical before and after (the oracle proves it: same
    // declarative state as lake_mor_delete).
    "lake_rewrite_deletes" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_rwd")
      graft.Fixtures.once(s, dir, "lake_rwd") {
        freshTable(s, dir, "lake_rwd")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7")
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.rewrite_deletes(" +
          s"'${LakeCatalogs.ns(dir)}.lake_rwd')")
      }
      s.table(tbl)
    }),

    // Multi-table ATOMIC commit (graft.sources.dsv2.LakeTx): one
    // transaction appends a delivery batch to the FACT table and its
    // per-status audit counts to a SECOND table — stage both, decide
    // via one marker rename, apply idempotently, recover on crash
    // (all-or-nothing pinned in LakeMultiCommitSpec). The query reads
    // BOTH tables back as one frame; the oracle derives both halves
    // from `orders` directly, so a transaction that half-applied (or
    // double-applied on recovery) hash-mismatches.
    "lake_multi_commit" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val a = tableId(dir, "lake_mtx_a")
      val b = tableId(dir, "lake_mtx_b")
      graft.Fixtures.once(s, dir, "lake_mtx") {
        freshTable(s, dir, "lake_mtx_a")
        s.sql(s"DROP TABLE IF EXISTS $b")
        s.sql(s"CREATE TABLE $b (o_orderstatus STRING, n BIGINT)")
        val batch = newest(s, dir).where(col(key) % 13 === 0)
        val audit = batch.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"))
        val txRoot = LakeCatalogs.root
        graft.sources.dsv2.LakeTx.commit(txRoot, Seq(
          graft.sources.dsv2.LakeTx.stageAppend(s, batch,
            tablePath(dir, "lake_mtx_a"), "append"),
          graft.sources.dsv2.LakeTx.stageAppend(s, audit,
            tablePath(dir, "lake_mtx_b"), "append")))
      }
      s.table(a).groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .withColumn("src", lit("fact"))
        .unionByName(s.table(b).withColumn("src", lit("audit")))
        .select("src", "o_orderstatus", "n")
    }),

    // Consistent multi-table READ during the crash window
    // (graft.sources.dsv2.LakeTx.consistentView): a transaction
    // appending to BOTH tables dies after applying only the first; the
    // snapshot-isolation cut pins both tables BELOW the in-flight
    // transaction, so the union the query returns is exactly the
    // pre-transaction state — the oracle states it declaratively (no
    // txn rows anywhere, never "half in table a"). Plain head reads
    // are separately atomic at the marker (lake_atomic_read); this
    // query is the STABLE-cut primitive on top of that.
    "lake_consistent_view" -> ((s, dir) => {
      LakeCatalogs.register(s)
      // settle any marker a crashed previous RUN left pending before
      // the DROPs below delete the staged files it references
      graft.sources.dsv2.LakeTx.recover(LakeCatalogs.root)
      val (an, bn) = ("lake_cv_a", "lake_cv_b")
      val (a, b) = (tableId(dir, an), tableId(dir, bn))
      s.sql(s"DROP TABLE IF EXISTS $a")
      s.sql(s"DROP TABLE IF EXISTS $b")
      previous(s, dir).where(col(key) % 2 === 0).writeTo(a).create()
      previous(s, dir).where(col(key) % 2 =!= 0).writeTo(b).create()
      val (da, db0) = (tablePath(dir, an), tablePath(dir, bn))
      val batch = newest(s, dir).where(col(key) % 13 === 0)
      // the crash window, reproduced with the primitives: marker
      // decided, FIRST apply landed, second never ran
      val sa = graft.sources.dsv2.LakeTx.stageAppend(s, batch, da, "append")
      val sb = graft.sources.dsv2.LakeTx.stageAppend(s, batch, db0, "append")
      val txid = java.util.UUID.randomUUID().toString
      graft.sources.dsv2.LakeTx.writeMarker(LakeCatalogs.root, txid,
        Seq(sa, sb))
      graft.sources.dsv2.LakeTx.applyOne(txid, sa)
      val view = graft.sources.dsv2.LakeTx.consistentView(
        LakeCatalogs.root, Seq(da, db0))
      val out = s.sql(s"SELECT * FROM $a VERSION AS OF ${view(da).get}")
        .unionByName(
          s.sql(s"SELECT * FROM $b VERSION AS OF ${view(db0).get}"))
      // settle the pending txn so a re-run starts clean
      graft.sources.dsv2.LakeTx.recover(LakeCatalogs.root)
      out
    }),

    // ATOMIC plain-read visibility during the crash window
    // (graft.sources.dsv2.LakeTx.pendingFor via snapshotView): the
    // same mid-apply transaction as lake_consistent_view, but read
    // with ORDINARY head SELECTs — catalog-owned visibility unions the
    // decided marker's staged files into every participant's head, so
    // both tables show the transaction even though only ONE apply
    // landed. The oracle states the post-transaction state of both
    // tables declaratively: a feed that showed the half-applied middle
    // (batch in a, not in b) or double-counted the applied side would
    // hash-mismatch.
    "lake_atomic_read" -> ((s, dir) => {
      LakeCatalogs.register(s)
      graft.sources.dsv2.LakeTx.recover(LakeCatalogs.root)
      val (an, bn) = ("lake_ar_a", "lake_ar_b")
      val (a, b) = (tableId(dir, an), tableId(dir, bn))
      s.sql(s"DROP TABLE IF EXISTS $a")
      s.sql(s"DROP TABLE IF EXISTS $b")
      previous(s, dir).where(col(key) % 2 === 0).writeTo(a).create()
      previous(s, dir).where(col(key) % 2 =!= 0).writeTo(b).create()
      val (da, db0) = (tablePath(dir, an), tablePath(dir, bn))
      val batch = newest(s, dir).where(col(key) % 13 === 0)
      val sa = graft.sources.dsv2.LakeTx.stageAppend(s, batch, da, "append")
      val sb = graft.sources.dsv2.LakeTx.stageAppend(s, batch, db0, "append")
      val txid = java.util.UUID.randomUUID().toString
      graft.sources.dsv2.LakeTx.writeMarker(LakeCatalogs.root, txid,
        Seq(sa, sb))
      graft.sources.dsv2.LakeTx.applyOne(txid, sa)
      val out = s.table(a).withColumn("src", lit("a"))
        .unionByName(s.table(b).withColumn("src", lit("b")))
      val materialized = out.localCheckpoint() // read DURING the window
      graft.sources.dsv2.LakeTx.recover(LakeCatalogs.root)
      materialized
    }),

    // SQL CALL maintenance: a fragmented table (two 8-file appends) is
    // compacted through `CALL graft_lake.system.compact` into target-
    // sized files as a dataChange=false commit; the head read after
    // maintenance must be row-identical to the pre-compaction state —
    // compaction rearranges bytes, never contents. (File-count shrink,
    // the dataChange flag, and streaming invisibility are pinned in
    // LakeProcedureSpec; the oracle proves row preservation.)
    "lake_compact" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_cmp")
      graft.Fixtures.once(s, dir, "lake_cmp") {
        twoAppendTable(s, dir, "lake_cmp", repartitionTo = Some(8))
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.compact(" +
          s"'${LakeCatalogs.ns(dir)}.lake_cmp', ${256L << 20})")
      }
      s.table(tbl)
    }),

    // Z-order clustering via CALL: rewrite the table ordered by the
    // interleaved (o_orderkey, o_custkey) z-value into 4 files as a
    // dataChange=false commit — the layout change that makes footer
    // stats prune on BOTH keys (pruning measured in LakeProcedureSpec;
    // the oracle proves the rewrite preserved contents exactly).
    "lake_zorder" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_zo")
      graft.Fixtures.once(s, dir, "lake_zo") {
        freshTable(s, dir, "lake_zo")
        s.sql(s"CALL ${LakeCatalogs.CatalogName}.system.zorder(" +
          s"'${LakeCatalogs.ns(dir)}.lake_zo', 'o_orderkey,o_custkey', 4)")
      }
      s.table(tbl)
    }),

    // Streaming INTO the lake: the commit-replaying source pipes a
    // two-append table into a SECOND lake table via writeStream.toTable
    // — each micro-batch an epoch-tagged manifest commit (exactly-once;
    // replay idempotence pinned in LakeStreamSinkSpec). The oracle over
    // the read-back of the TARGET proves the pipe moved every row
    // exactly once through both halves of the streaming contract.
    "stream_lake_sink" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val dst = tableId(dir, "lake_pipe_dst")
      graft.Fixtures.once(s, dir, "lake_pipe") {
        twoAppendTable(s, dir, "lake_pipe_src")
        s.sql(s"DROP TABLE IF EXISTS $dst")
        s.sql(s"CREATE TABLE $dst (${previous(s, dir).schema.toDDL})")
        val out = freshDir("pipe", dir)
        val q = s.readStream.table(tableId(dir, "lake_pipe_src"))
          .writeStream
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .toTable(dst)
        q.awaitTermination()
      }
      s.table(dst)
    }),

    // The commit-replaying streaming source: two append commits drain
    // through readStream.table under AvailableNow into a file sink; the
    // read-back must hold every appended row exactly once (offsets are
    // commit versions riding the checkpoint — no replays, no gaps).
    "stream_lake_source" -> ((s, dir) => {
      LakeCatalogs.register(s)
      graft.Fixtures.once(s, dir, "lake_stream") {
        val tbl = twoAppendTable(s, dir, "lake_stream")
        val out = freshDir("stream", dir)
        val q = s.readStream.table(tbl)
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(s"${dirPath("stream", dir)}/data")
    }),

    // CHANGE-DATA-FEED metadata table (graft.sources.dsv2
    // .LakeChangesTable, the `db.t.changes` spelling): the commit
    // history replays as row-level events — the CTAS's rows as insert
    // events of v1, the merge-on-read DELETE's pre-images as delete
    // events of v2. The oracle restates the whole feed declaratively,
    // so wrong versions, missing pre-image columns, or DVs applied
    // retroactively to insert events all hash-mismatch.
    "lake_changes_feed" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_cdf")
      graft.Fixtures.once(s, dir, "lake_cdf") {
        freshTable(s, dir, "lake_cdf")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7")
      }
      s.table(s"$tbl.changes")
    }),

    // Four-way change typing: a MOR UPDATE's halves surface as
    // update_preimage / update_postimage events (paired by the
    // manifest's commit-time update annotation — Delta CDF's
    // _change_data contract folded into the manifest), not as the
    // collapsed insert+delete. The oracle restates both halves
    // declaratively over prev: pre-images carry the OLD payload,
    // post-images the updated one, same keys and version both sides —
    // a feed that mislabels, drops, or double-counts either half
    // hash-mismatches.
    "lake_changes_updates" -> ((s, dir) => {
      LakeCatalogs.register(s)
      val tbl = tableId(dir, "lake_cdfu")
      graft.Fixtures.once(s, dir, "lake_cdfu") {
        freshTable(s, dir, "lake_cdfu")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"UPDATE $tbl SET o_orderpriority = 'CDF-UPDATED' " +
          s"WHERE $key % 10 = 7")
      }
      s.table(s"$tbl.changes")
        .where(col("_change_type").startsWith("update"))
    }),

    // the SAME feed consumed as a STREAM (micro-batches over commit
    // versions, availableNow drain) — the merge-on-read commit the
    // append-only lake stream must reject flows here as delete events
    "stream_lake_cdc" -> ((s, dir) => {
      LakeCatalogs.register(s)
      graft.Fixtures.once(s, dir, "lake_cdfs") {
        val tbl = freshTable(s, dir, "lake_cdfs")
        s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read')")
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 10 = 7")
        val out = freshDir("cdcstream", dir)
        val q = s.readStream.table(s"$tbl.changes")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(s"${dirPath("cdcstream", dir)}/data")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // v2 = the update applied, the delete not yet
    "lake_time_travel" ->
      s"""$snapshotCte
         |SELECT o_orderkey, o_custkey, o_orderstatus,
         |  CASE WHEN o_orderkey % 9 = 1 THEN o_totalprice + 100.0
         |       ELSE o_totalprice END AS o_totalprice,
         |  o_orderdate, o_orderpriority
         |FROM prev""".stripMargin,
    // v2 = the delete applied, the later update not
    "lake_timestamp_travel" ->
      s"""$snapshotCte
         |SELECT * FROM prev WHERE o_orderkey % 4 <> 0""".stripMargin,
    // the row-level delta of prev -> newest, set-algebraically
    "lake_cdc" ->
      s"""$snapshotCte
         |SELECT *, 'insert' AS change_type FROM
         |  (SELECT * FROM newest EXCEPT ALL SELECT * FROM prev) t
         |UNION ALL
         |SELECT *, 'delete' AS change_type FROM
         |  (SELECT * FROM prev EXCEPT ALL SELECT * FROM newest) t""".stripMargin,
    "lake_history" ->
      s"""$snapshotCte
         |SELECT CAST(0 AS BIGINT) AS version, 'create' AS operation,
         |  CAST(0 AS BIGINT) AS added_rows
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), 'append',
         |  (SELECT count(*) FROM prev WHERE o_orderkey % 2 = 0)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'append',
         |  (SELECT count(*) FROM prev WHERE o_orderkey % 2 <> 0)""".stripMargin,
    // head after rollback(v1) = the original load
    "lake_rollback" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
    // head after the delete, unchanged by the expire
    "lake_expire" ->
      s"""$snapshotCte
         |SELECT * FROM prev WHERE o_orderkey % 3 <> 0""".stripMargin,
    // the published state: staged append + staged delete, nothing else
    "lake_branch_wap" ->
      s"""$snapshotCte
         |SELECT * FROM prev WHERE o_orderkey % 10 <> 7
         |UNION ALL
         |SELECT * FROM newest
         |WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 7""".stripMargin,
    // the tagged snapshot is exactly the original load
    "lake_tag_travel" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
    // old rows null-back-fill the added column; the two post-evolution
    // vintages (written as o_note, then renamed to note) both surface
    // under the FINAL name
    "lake_schema_evolution" ->
      s"""$snapshotCte
         |SELECT *, CAST(NULL AS VARCHAR) AS note FROM prev
         |UNION ALL
         |SELECT *, 'n' || CAST(o_orderkey AS VARCHAR) AS note
         |FROM newest WHERE o_orderkey % 13 = 0
         |UNION ALL
         |SELECT *, 'm' || CAST(o_orderkey AS VARCHAR) AS note
         |FROM newest WHERE o_orderkey % 11 = 0""".stripMargin,
    // the feed: every prev row inserts at v1; the %10=7 slice deletes
    // at v2 with its pre-image intact
    "lake_changes_feed" ->
      s"""$snapshotCte
         |SELECT *, 'insert' AS _change_type,
         |       CAST(1 AS BIGINT) AS _commit_version FROM prev
         |UNION ALL
         |SELECT *, 'delete' AS _change_type,
         |       CAST(3 AS BIGINT) AS _commit_version FROM prev
         |WHERE o_orderkey % 10 = 7""".stripMargin,
    // the update pairs: pre-images old, post-images new, one commit
    "lake_changes_updates" ->
      s"""$snapshotCte
         |SELECT *, 'update_preimage' AS _change_type,
         |       CAST(3 AS BIGINT) AS _commit_version FROM prev
         |WHERE o_orderkey % 10 = 7
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |       o_orderdate, 'CDF-UPDATED' AS o_orderpriority,
         |       'update_postimage' AS _change_type,
         |       CAST(3 AS BIGINT) AS _commit_version FROM prev
         |WHERE o_orderkey % 10 = 7""".stripMargin,
    // the stream drains the identical event set
    "stream_lake_cdc" ->
      s"""$snapshotCte
         |SELECT *, 'insert' AS _change_type,
         |       CAST(1 AS BIGINT) AS _commit_version FROM prev
         |UNION ALL
         |SELECT *, 'delete' AS _change_type,
         |       CAST(3 AS BIGINT) AS _commit_version FROM prev
         |WHERE o_orderkey % 10 = 7""".stripMargin,
    // both tables show the decided transaction in full: each parity
    // half of prev plus the WHOLE %13 batch on each side — the
    // half-applied middle (batch in a only) or a double count of a's
    // applied side would both mismatch
    "lake_atomic_read" ->
      s"""$snapshotCte
         |SELECT *, 'a' AS src FROM
         |  (SELECT * FROM prev WHERE o_orderkey % 2 = 0
         |   UNION ALL
         |   SELECT * FROM newest WHERE o_orderkey % 13 = 0) t
         |UNION ALL
         |SELECT *, 'b' AS src FROM
         |  (SELECT * FROM prev WHERE o_orderkey % 2 <> 0
         |   UNION ALL
         |   SELECT * FROM newest WHERE o_orderkey % 13 = 0) t""".stripMargin,
    // the consistent cut shows the full pre-transaction state — every
    // prev row exactly once, NO txn rows (a torn read would add the
    // %13 batch to the even half only)
    "lake_consistent_view" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
    // stats-pruned scan loses no rows
    "lake_stats_prune" ->
      s"""$snapshotCte
         |SELECT * FROM prev
         |WHERE o_orderkey BETWEEN 1000 AND 2000""".stripMargin,
    // the metadata count equals the declarative live-row count
    "lake_count_meta" ->
      s"""$snapshotCte
         |SELECT count(*) AS n_live FROM prev
         |WHERE o_orderkey % 10 <> 7""".stripMargin,
    // metadata extremes equal the declarative ones
    "lake_minmax_meta" ->
      s"""$snapshotCte
         |SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         |       min(o_orderstatus) AS min_status,
         |       max(o_orderstatus) AS max_status,
         |       count(o_orderpriority) AS n_pri
         |FROM prev""".stripMargin,
    // both vintages under the WIDE types: the old one float/int-rounded
    // then widened (IEEE float32 halfway rounding must agree), the new
    // one native
    "lake_type_widening" ->
      s"""$snapshotCte
         |SELECT CAST(CAST(o_orderkey AS INT) AS BIGINT) AS k,
         |       CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price
         |FROM prev
         |UNION ALL
         |SELECT o_orderkey + 10000000000 AS k, o_totalprice AS price
         |FROM newest WHERE o_orderkey % 13 = 0""".stripMargin,
    // the partitioned table's date-range aggregate, restated on prev
    "lake_partitioned" ->
      s"""$snapshotCte
         |SELECT o_orderpriority AS pri, count(*) AS n,
         |       sum(o_totalprice) AS total
         |FROM prev
         |WHERE o_orderdate >= DATE '1995-01-01'
         |  AND o_orderdate < DATE '1995-04-01'
         |GROUP BY 1""".stripMargin,
    // both layout vintages under the range filter
    "lake_partition_evolution" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderdate AS d,
         |       o_totalprice AS price
         |FROM prev WHERE o_orderdate >= DATE '1995-06-01'
         |UNION ALL
         |SELECT o_orderkey AS k, o_orderdate AS d,
         |       o_totalprice + 2.0 AS price
         |FROM newest
         |WHERE o_orderkey % 3 = 0
         |  AND o_orderdate >= DATE '1995-06-01'""".stripMargin,
    // the partition inventory, recomputed as a plain GROUP BY over the
    // surviving rows' month ordinals
    "lake_partitions_meta" ->
      s"""$snapshotCte
         |SELECT (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1
         |         AS d_months,
         |       count(*) AS row_count
         |FROM prev WHERE o_orderkey % 4 <> 1
         |GROUP BY 1""".stripMargin,
    // the filtered partitions' live counts, recomputed from rows
    "lake_filtered_meta" ->
      s"""$snapshotCte
         |SELECT o_orderpriority AS pri, count(*) AS n
         |FROM prev WHERE o_orderkey % 4 <> 1
         |  AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
         |GROUP BY 1""".stripMargin,
    // live per-partition counts, recomputed from the surviving rows
    "lake_groupby_meta" ->
      s"""$snapshotCte
         |SELECT o_orderpriority AS pri, count(*) AS n
         |FROM prev WHERE o_orderkey % 4 <> 1
         |GROUP BY 1""".stripMargin,
    // the same point-lookup IN-list over the source rows
    "lake_bloom_lookup" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderpriority AS pri,
         |       o_totalprice AS price
         |FROM prev
         |WHERE o_orderkey IN (1, 2, 3, 5, 7, 32, 33, 34, 68,
         |                     999999999)""".stripMargin,
    // the surviving month range recomputed from rows (the DELETE
    // removed everything before 1995-07-01, inside the queried range)
    "lake_hidden_meta" ->
      s"""$snapshotCte
         |SELECT count(*) AS n, min(o_orderkey) AS lo_k,
         |       max(o_orderkey) AS hi_k,
         |       min(o_orderdate) AS lo_d, max(o_orderdate) AS hi_d
         |FROM prev
         |WHERE o_orderdate >= DATE '1995-07-01'
         |  AND o_orderdate < DATE '1998-01-01'""".stripMargin,
    // the keyed fold restated declaratively: last event per key wins
    // (updates for keys % 3 = 0, inserts otherwise), deleted keys
    // (% 5 = 2) absent — exactly the batch-MERGE end state
    "stream_lake_upsert" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderstatus AS status,
         |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
         |       ELSE o_totalprice END AS price,
         |  CASE WHEN o_orderkey % 3 = 0 THEN 'update'
         |       ELSE 'insert' END AS op,
         |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END
         |       AS BIGINT) AS seq
         |FROM prev WHERE o_orderkey % 5 <> 2""".stripMargin,
    // the event arithmetic restated declaratively: inserts = epoch-1
    // post-images (all keys) + epoch-2 post-images (k%3=0); deletes =
    // epoch-2 pre-images (k%3=0, all had live epoch-1 versions) +
    // epoch-3 pre-images (k%5=2 — exactly one live version per key,
    // whichever epoch it came from). Epoch 1's ref finds no prior
    // rows; epoch 3 has no post-images (pure tombstones).
    "stream_lake_upsert_cdc" ->
      s"""$snapshotCte, base AS (SELECT o_orderkey AS k FROM prev)
         |SELECT 'delete' AS change_type,
         |  CAST(sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)
         |     + sum(CASE WHEN k % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n,
         |  CAST(sum(CASE WHEN k % 3 = 0 THEN k ELSE 0 END)
         |     + sum(CASE WHEN k % 5 = 2 THEN k ELSE 0 END) AS BIGINT)
         |    AS sum_k
         |FROM base
         |UNION ALL
         |SELECT 'insert',
         |  CAST(count(*)
         |     + sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(sum(k)
         |     + sum(CASE WHEN k % 3 = 0 THEN k ELSE 0 END) AS BIGINT)
         |FROM base
         |ORDER BY change_type""".stripMargin,
    // retirement preserves the exact fold (same declarative oracle as
    // the upsert itself — compact/auto-retire must be invisible)
    "lake_compact_retire" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderstatus AS status,
         |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
         |       ELSE o_totalprice END AS price,
         |  CASE WHEN o_orderkey % 3 = 0 THEN 'update'
         |       ELSE 'insert' END AS op,
         |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END
         |       AS BIGINT) AS seq
         |FROM prev WHERE o_orderkey % 5 <> 2""".stripMargin,
    "stream_lake_upsert_retire" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderstatus AS status,
         |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
         |       ELSE o_totalprice END AS price,
         |  CASE WHEN o_orderkey % 3 = 0 THEN 'update'
         |       ELSE 'insert' END AS op,
         |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END
         |       AS BIGINT) AS seq
         |FROM prev WHERE o_orderkey % 5 <> 2""".stripMargin,
    // the fold composed with the DML, all declarative: last event per
    // key (updates for k%3=0), then DELETE k%5=2 and the k%7=0 status
    // rewrite
    "lake_dml_under_refs" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % 7 = 0 THEN 'X'
         |       ELSE o_orderstatus END AS status,
         |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
         |       ELSE o_totalprice END AS price,
         |  CASE WHEN o_orderkey % 3 = 0 THEN 'update'
         |       ELSE 'insert' END AS op,
         |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END
         |       AS BIGINT) AS seq
         |FROM prev WHERE o_orderkey % 5 <> 2""".stripMargin,
    // the 1995 year-slice restated declaratively over the source rows
    // (the transform predicate is hidden partitioning's years() — the
    // oracle states the calendar year directly)
    "lake_v2_predicate" ->
      s"""$snapshotCte
         |SELECT count(*) AS n, min(o_orderkey) AS lo_k,
         |       max(o_orderkey) AS hi_k
         |FROM prev
         |WHERE date_part('year', o_orderdate) = 1995""".stripMargin,
    // min(2500, source rows) — the LIMIT subquery stated identically
    "lake_limit_probe" ->
      s"""$snapshotCte
         |SELECT count(*) AS n
         |FROM (SELECT o_orderkey FROM prev LIMIT 2500) probe""".stripMargin,
    // the same unique-key top-25, restated over the source rows
    "lake_topn_keys" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderpriority AS pri,
         |       o_totalprice AS price
         |FROM prev ORDER BY o_orderkey LIMIT 25""".stripMargin,
    // the inventory arithmetic recounted from rows: 8 files / 8 DVs by
    // fixture construction, physical = all loaded rows (MOR deletes
    // never rewrite), live = physical minus the deleted keys
    "lake_files_inventory" ->
      s"""$snapshotCte
         |SELECT CAST(8 AS BIGINT) AS files,
         |       CAST(count(*) AS BIGINT) AS physical,
         |       CAST(sum(CASE WHEN o_orderkey % 5 <> 2 THEN 1 ELSE 0
         |                END) AS BIGINT) AS live,
         |       CAST(8 AS BIGINT) AS dvs
         |FROM prev""".stripMargin,
    // the r16 exact arm recounted from rows: live = rows neither
    // DV-deleted (k % 7 = 3) nor matching the 5-key ref — the
    // inventory's bounded probe must price exactly this
    "lake_files_inventory_eq" ->
      s"""$snapshotCte
         |SELECT CAST(4 AS BIGINT) AS files,
         |       CAST(count(*) AS BIGINT) AS physical,
         |       CAST(sum(CASE WHEN o_orderkey % 7 <> 3
         |                      AND o_orderkey NOT IN (1, 2, 3, 4, 5)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS live,
         |       CAST(4 AS BIGINT) AS dvs
         |FROM prev""".stripMargin,
    // the debt arithmetic restated: one eq ref (3 keys, applying to
    // all 8 insert-vintage files), 8 DV sidecars holding exactly the
    // deleted keys' positions
    "lake_deletes_inventory" ->
      s"""$snapshotCte
         |SELECT 'equality' AS kind, CAST(1 AS BIGINT) AS refs,
         |       CAST(3 AS BIGINT) AS entries, CAST(1 AS BIGINT) AS applies
         |UNION ALL
         |SELECT 'position', CAST(8 AS BIGINT),
         |       CAST(sum(CASE WHEN o_orderkey % 5 = 2 THEN 1 ELSE 0 END)
         |            AS BIGINT),
         |       CAST(8 AS BIGINT)
         |FROM prev
         |ORDER BY kind""".stripMargin,
    // the keyspace slice restated over the source rows
    "lake_sorted_write" ->
      s"""$snapshotCte
         |SELECT o_orderkey AS k, o_orderpriority AS pri
         |FROM prev WHERE o_orderkey >= 100 AND o_orderkey < 700""".stripMargin,
    // the surviving rows' exact decimal aggregate, restated over the
    // source with the same cast
    "lake_decimal_dml" ->
      s"""$snapshotCte, decsrc AS (
         |  SELECT o_orderpriority AS pri,
         |    CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         |    CAST(concat(CAST(o_orderkey % 100000 AS VARCHAR),
         |      '00000000000000000000.000',
         |      CAST(o_orderkey % 10 AS VARCHAR)) AS DECIMAL(38,4)) AS big
         |  FROM prev WHERE o_orderkey % 7 <> 3
         |)
         |SELECT pri, count(*) AS n,
         |  CAST(sum(price) AS DOUBLE) AS total,
         |  CAST(min(price) AS DOUBLE) AS lo,
         |  CAST(max(price) AS DOUBLE) AS hi,
         |  CAST(sum(big) AS VARCHAR) AS big_total,
         |  CAST(min(big) AS VARCHAR) AS big_lo,
         |  CAST(max(big) AS VARCHAR) AS big_hi
         |FROM decsrc
         |WHERE price > 1000.00
         |GROUP BY 1""".stripMargin,
    // per-partition extremes, recomputed from the rows
    "lake_groupby_minmax_meta" ->
      s"""$snapshotCte
         |SELECT o_orderpriority AS pri, count(*) AS n,
         |       min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
         |       min(o_orderdate) AS min_d, max(o_orderdate) AS max_d
         |FROM prev GROUP BY 1""".stripMargin,
    // per-partition sums/averages, recomputed from the rows
    "lake_sum_meta" ->
      s"""$snapshotCte
         |SELECT o_orderpriority AS pri, count(*) AS n,
         |       CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
         |       avg(o_orderkey) AS avg_k,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
         |         AS VARCHAR) AS total
         |FROM prev GROUP BY 1""".stripMargin,
    // the CBO-planned 3-relation join, restated over the sources
    "lake_cbo_join" ->
      s"""$snapshotCte
         |SELECT n_name AS nation, count(*) AS n,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
         |         AS DOUBLE) AS total
         |FROM prev
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1""".stripMargin,
    // the post-enforcement end state: only the valid load, zero
    // negative prices by guarantee
    "lake_check_enforce" ->
      s"""$snapshotCte
         |SELECT count(*) AS n,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
         |         AS VARCHAR) AS total,
         |       CAST(0 AS BIGINT) AS n_neg
         |FROM prev""".stripMargin,
    // the analyze-restored metadata aggregate, recomputed from rows
    "lake_analyze_meta" ->
      s"""$snapshotCte
         |SELECT count(*) AS n,
         |       CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
         |       avg(o_orderkey) AS avg_k,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
         |         AS VARCHAR) AS total
         |FROM prev""".stripMargin,
    // the filtered aggregate, recomputed from rows (the predicates are
    // no-ops over the data by construction — which is exactly what
    // makes them provable)
    "lake_proven_filter" ->
      s"""$snapshotCte
         |SELECT count(*) AS n,
         |       CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
         |         AS VARCHAR) AS total
         |FROM prev
         |WHERE o_orderkey >= 0 AND o_totalprice IS NOT NULL""".stripMargin,
    // untouched partitions from the load + the overwritten one anew
    "lake_dynamic_overwrite" ->
      s"""$snapshotCte
         |SELECT o_orderpriority AS pri, o_orderkey AS k,
         |       o_totalprice AS price
         |FROM prev WHERE o_orderpriority <> '1-URGENT'
         |UNION ALL
         |SELECT o_orderpriority AS pri, o_orderkey AS k,
         |       o_totalprice + 0.5 AS price
         |FROM newest WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    // the co-bucketed join, restated as a plain join over the sources
    "lake_spj" ->
      s"""$snapshotCte
         |SELECT c.c_mktsegment AS seg, count(*) AS n,
         |       CAST(sum(CAST(f.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |         AS total
         |FROM prev f JOIN customer c ON f.o_custkey = c.c_custkey
         |GROUP BY 1""".stripMargin,
    // merge-on-read delete: surviving rows only
    "lake_mor_delete" ->
      s"""$snapshotCte
         |SELECT * FROM prev WHERE o_orderkey % 10 <> 7""".stripMargin,
    // MOR merge end state: matched rows re-prioritized, unmatched
    // newest%13 rows inserted
    "lake_mor_merge" ->
      s"""$snapshotCte
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |       o_orderdate,
         |       CASE WHEN o_orderkey % 9 = 0
         |             AND o_orderkey IN (SELECT o_orderkey FROM newest)
         |            THEN 'MOR-UPDATED'
         |            ELSE o_orderpriority END AS o_orderpriority
         |FROM prev
         |UNION ALL
         |SELECT * FROM newest
         |WHERE o_orderkey % 9 = 0
         |  AND o_orderkey NOT IN (SELECT o_orderkey FROM prev)""".stripMargin,
    // MOR update end state: the %10=7 slice re-priced and re-statused
    "lake_mor_update" ->
      s"""$snapshotCte
         |SELECT o_orderkey, o_custkey,
         |       CASE WHEN o_orderkey % 10 = 7 THEN 'U'
         |            ELSE o_orderstatus END AS o_orderstatus,
         |       CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 10.0
         |            ELSE o_totalprice END AS o_totalprice,
         |       o_orderdate, o_orderpriority
         |FROM prev""".stripMargin,
    // materialization preserves live rows exactly
    "lake_rewrite_deletes" ->
      s"""$snapshotCte
         |SELECT * FROM prev WHERE o_orderkey % 10 <> 7""".stripMargin,

    // the transaction landed in BOTH tables exactly once: fact counts
    // include the batch, audit counts equal the batch's group-bys
    "lake_multi_commit" ->
      s"""$snapshotCte
         |SELECT 'fact' AS src, o_orderstatus, count(*) AS n
         |FROM (SELECT * FROM prev
         |      UNION ALL
         |      SELECT * FROM newest WHERE o_orderkey % 13 = 0)
         |GROUP BY 2
         |UNION ALL
         |SELECT 'audit' AS src, o_orderstatus, count(*) AS n
         |FROM newest WHERE o_orderkey % 13 = 0 GROUP BY 2""".stripMargin,

    // compaction preserves contents exactly
    "lake_compact" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
    // clustering preserves contents exactly
    "lake_zorder" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
    // the pipe lands every source row in the target exactly once
    "stream_lake_sink" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
    // both appended halves, exactly once
    "stream_lake_source" ->
      s"""$snapshotCte
         |SELECT * FROM prev""".stripMargin,
  )
}
