package graft.operators

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.dsv2.{LakeLog, LakePartitioning, LakeTableIO}

/** Table-maintenance surface over a [[graft.sources.dsv2.LakeTable]]'s
  * snapshot log — the operations a lakehouse user runs daily next to
  * their queries: audit history, row-level change capture between
  * versions, rollback, and history expiry.
  *
  * All of it is LOG work: `history` renders manifests (driver-side
  * metadata, O(versions) not O(data)); `changes` reads ONLY the files
  * that changed hands between two snapshots — at 100 TB a CDC pull for
  * one commit reads that commit's files, never the table.
  */
object LakeSnapshots {

  /** One tuple per committed version — the single source the DataFrame
    * AND the CALL-procedure renderings of the audit trail both map from
    * (they drifted once; never again).
    */
  def historyRows(dir: String): Seq[(Long, String, Int, Int, Int, Long,
      Boolean)] =
    LakeLog.versions(dir).map(LakeLog.snapshotAt(dir, _))
      .map(s => (s.version, s.operation, s.files.size, s.added.size,
        s.removed.size, s.addedRows, s.dataChange))

  /** One row per committed version: the audit trail. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    historyRows(dir)
      .toDF("version", "operation", "n_files", "n_added", "n_removed",
        "added_rows", "data_change")
  }

  /** Row-level changes between two snapshots, computed from the file
    * sets alone: rows in files the range ADDED minus rows in files it
    * REMOVED are inserts; the converse are deletes (an update surfaces
    * as its delete+insert pair — standard CDC without a key contract).
    * Carry-over rows of a copy-on-write rewrite appear in both file
    * sets and cancel in the `exceptAll`, so only true changes surface.
    */
  def changes(spark: SparkSession, dir: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes($fromVersion -> $toVersion): range must go forward")
    // an equality-delete commit changes NO files, so a file-diff feed
    // would silently MISS its deleted rows; loud until retired (a
    // rewrite materializes them as ordinary file replacements)
    ((fromVersion + 1) to toVersion).foldLeft(
      LakeLog.snapshotAt(dir, fromVersion).eqs) {
      (prev, v) =>
        val cur = LakeLog.snapshotAt(dir, v).eqs
        require(prev == cur,
          s"graft_lake $dir: version $v changed the equality-delete " +
            "set — the change feed cannot represent equality-delete " +
            "commits; CALL system.rewrite_deletes and diff across the " +
            "rewrite instead")
        cur
    }
    val from = LakeLog.snapshotAt(dir, fromVersion)
    val to = LakeLog.snapshotAt(dir, toVersion)
    val before = from.files.toSet
    val after = to.files.toSet
    val schema = LakeTableIO.tableSchema(dir)
    // a file's LIVE rows at a version = its bytes minus that version's
    // deletion-vector positions; reading through the stock parquet
    // source with `_metadata.row_index` gives the same position
    // semantics the connector reader uses (its `_pos` IS the parquet
    // row index)
    def dvDf(snap: graft.sources.dsv2.LakeLog.Snapshot,
             names: Seq[String]): DataFrame = {
      val rows = names.flatMap(f => snap.dvs.get(f).toSeq.flatMap(dvs =>
        graft.sources.dsv2.LakeDv.positions(dir, dvs).map(p => (f, p))))
      if (rows.isEmpty)
        spark.createDataFrame(Seq.empty[(String, Long)])
          .toDF("__f", "__p")
      else spark.createDataFrame(rows).toDF("__f", "__p")
    }
    def readLive(snap: graft.sources.dsv2.LakeLog.Snapshot,
                 names: Seq[String]): DataFrame =
      if (names.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val raw = spark.read.schema(schema)
          .parquet(names.map(n => s"$dir/$n"): _*)
        if (names.forall(n => !snap.dvs.contains(n))) raw
        else raw
          .withColumn("__f", col("_metadata.file_name"))
          .withColumn("__p", col("_metadata.row_index"))
          .join(broadcast(dvDf(snap, names)), Seq("__f", "__p"),
            "left_anti")
          .drop("__f", "__p")
      }
    val newRows = readLive(to, (after -- before).toSeq.sorted)
    val oldRows = readLive(from, (before -- after).toSeq.sorted)
    // merge-on-read deltas: positions DV'd between the two versions on
    // files present in BOTH are row-level DELETES (DV sets only grow
    // while a file survives — a replace retires file and DVs together)
    val common = (before intersect after).toSeq.sorted
    val dvDeltaRows = common.flatMap { f =>
      val pBefore = from.dvs.get(f).map(d =>
        graft.sources.dsv2.LakeDv.positions(dir, d).toSet)
        .getOrElse(Set.empty)
      val pAfter = to.dvs.get(f).map(d =>
        graft.sources.dsv2.LakeDv.positions(dir, d).toSet)
        .getOrElse(Set.empty)
      (pAfter -- pBefore).toSeq.sorted.map(p => (f, p))
    }
    val dvDeleted =
      if (dvDeltaRows.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val files = dvDeltaRows.map(_._1).distinct.sorted
        spark.read.schema(schema)
          .parquet(files.map(n => s"$dir/$n"): _*)
          .withColumn("__f", col("_metadata.file_name"))
          .withColumn("__p", col("_metadata.row_index"))
          .join(broadcast(
            spark.createDataFrame(dvDeltaRows).toDF("__f", "__p")),
            Seq("__f", "__p"), "left_semi")
          .drop("__f", "__p")
      }
    newRows.exceptAll(oldRows).withColumn("change_type", lit("insert"))
      .unionByName(
        oldRows.exceptAll(newRows).withColumn("change_type", lit("delete")))
      .unionByName(dvDeleted.withColumn("change_type", lit("delete")))
  }

  /** Restore the table to `version` as a NEW commit (history preserved). */
  def rollback(dir: String, version: Long): Long =
    LakeLog.rollback(dir, version).version

  /** Drop all but the newest `keepLast` snapshots (tagged ones survive)
    * and delete data files nothing retained references and older than
    * the grace window (see [[LakeLog.defaultExpireGraceMs]] — the guard
    * against vacuuming a concurrent writer's just-published,
    * not-yet-committed file). Returns (expired manifests, deleted
    * files).
    */
  def expire(dir: String, keepLast: Int): (Int, Int) =
    LakeLog.expire(dir, keepLast)

  def expire(dir: String, keepLast: Int, graceMs: Long): (Int, Int) =
    LakeLog.expire(dir, keepLast, graceMs)

  /** Maintenance rewrites stage through Spark's parquet writer, whose
    * default `outputTimestampType` is INT96 — an encoding the
    * connector's reader deliberately rejects. Without this pin, ONE
    * compact/zorder of a TIMESTAMP-typed table would pass its row-count
    * check, publish, and leave the table unreadable through the
    * connector. Scoped set-and-restore: maintenance is a foreground
    * single operation on the calling session.
    */
  private def withMicrosTimestamps[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Delete just-published files after a failed log commit: their names
    * are fresh UUIDs referenced by no manifest, so removing them cannot
    * affect any reader — without this, a lost commit race leaks the
    * whole rewrite onto disk until an expire.
    */
  private def unpublish(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                        names: Seq[String]): Unit =
    names.foreach(n =>
      try fs.delete(new Path(dir, n), false)
      catch { case _: java.io.IOException => () })

  /** Group file names by their hidden-partitioning tuple (None =
    * tuple-less / unpartitioned). Every maintenance rewrite operates
    * WITHIN these groups: a rewritten file inherits its group's tuple,
    * so partition pruning, storage-partitioned joins, and dynamic
    * overwrite survive compaction — mixing partitions in one output
    * file would silently discard the layout DML paid to create.
    */
  private def byTuple(parts: Map[String, Seq[String]],
                      files: Seq[String])
      : Seq[(Option[Seq[String]], Seq[String])] =
    files.groupBy(parts.get).toSeq.sortBy(_._2.head)

  // ------------------------------------------- shared eq-retirement
  // machinery for maintenance rewrites (rewrite_deletes, and the r15
  // retirement FOLDING in compact/zorder: the passes already rewrite
  // rows, so they apply + retire applicable eq refs in the same
  // dataChange=false commit instead of declining)

  /** Per-file applicable live refs (the shared sequencing + key-stat
    * scope, [[graft.sources.dsv2.LakeEq.scopedApplicable]]) plus a
    * DataFrame-level "this row is eq-deleted" flag over
    * (`__f`, key columns) — the same canonical-key semantics the
    * connector reader applies.
    */
  private def eqFold(spark: SparkSession, dir: String,
                     head: graft.sources.dsv2.LakeLog.Snapshot,
                     schema: org.apache.spark.sql.types.StructType)
      : (Map[String, Seq[String]], org.apache.spark.sql.Column) = {
    import graft.sources.dsv2.LakeEq
    import org.apache.spark.sql.functions.{array, col, concat_ws, datediff, lit, to_date, udf, when}
    val tcols = LakeTableIO.columnRefs(schema)
    val applicable: Map[String, Seq[String]] =
      head.files.iterator.map { f =>
        f -> LakeEq.scopedApplicable(dir, head.eqs,
          head.stats.get(f).map(_.addV).getOrElse(-1L),
          head.stats.get(f), tcols, schema,
          head.parts.get(f)).map(_.name)
      }.filter(_._2.nonEmpty).toMap
    // one canonical key column per distinct keyCols shape (encoded
    // exactly as the reader/writer canon — int/long/string decimal
    // strings, dates as epoch days; any null key value → null →
    // never matches)
    val kcShapes: Seq[Seq[String]] = head.eqs.map(_.keyCols).distinct
    val shapeOf: Map[String, Int] = head.eqs.map(r =>
      r.name -> kcShapes.indexOf(r.keyCols)).toMap
    val keySets: Map[String, Set[String]] =
      head.eqs.map(r => r.name -> LakeEq.read(dir, r.name)._2).toMap
    def canonCol(name: String): org.apache.spark.sql.Column = {
      val f = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalStateException(
          s"maintenance rewrite of $dir: eq key column '$name' missing"))
      f.dataType match {
        case org.apache.spark.sql.types.StringType => col(f.name)
        case org.apache.spark.sql.types.DateType =>
          datediff(col(f.name), to_date(lit("1970-01-01"))).cast("string")
        case _ => col(f.name).cast("string")
      }
    }
    def keyExpr(cols: Seq[String]): org.apache.spark.sql.Column = {
      val anyNull = cols.map(col(_).isNull).reduce(_ || _)
      when(anyNull, lit(null: String))
        .otherwise(concat_ws("\u0000", cols.map(canonCol): _*))
    }
    val applicableB = applicable
    val keySetsB = keySets
    val shapeOfB = shapeOf
    val isEqDeleted = udf((f: String, eks: Seq[String]) =>
      applicableB.getOrElse(f, Seq.empty).exists { n =>
        val k = eks(shapeOfB(n))
        k != null && keySetsB(n).contains(k)
      })
    (applicable, isEqDeleted(col("__f"), array(kcShapes.map(keyExpr): _*)))
  }

  /** The retirement-stability guard every retiring rewrite re-checks
    * adjacent to each publish attempt (where the version CAS makes it
    * airtight): every PLANNED ref must still be live — one vanishing
    * mid-rewrite means a concurrent maintenance pass already retired
    * it (this plan's fold raced another rewrite of the same debt) and
    * this publish must not land. Refs ADDED mid-rewrite are FINE
    * since r16: the rewrite's outputs inherit the PLAN version as
    * their add version (sequence inheritance —
    * [[graft.sources.dsv2.LakeLog.commit]] `addedSeqs`), so a
    * concurrent epoch's ref still attaches to the rewritten rows,
    * survives the name-scoped retirement (`eqsRetire`), and nothing
    * resurrects — epochs keep committing while maintenance runs.
    */
  private[graft] def eqGuard(dir: String,
                      head: graft.sources.dsv2.LakeLog.Snapshot,
                      what: String): () => Unit = () => {
    val now =
      LakeLog.current(dir).map(_.eqs).getOrElse(Seq.empty).toSet
    val missing = head.eqs.filterNot(now)
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$what of $dir: planned equality refs were retired " +
          s"mid-rewrite (concurrent maintenance?): " +
          s"${missing.map(_.name).mkString(", ")} — re-run")
  }

  /** Physical rows of `files` with maintenance-rewrite bookkeeping:
    * `__f`/`__p` (file name / parquet row index — the exact position
    * semantics the connector reader applies), the files' DV positions
    * anti-joined away, and `__eqd` (true = an applicable live eq ref
    * deletes the row; constant false without refs).
    */
  private def flaggedRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String,
      files: Seq[String], dvs: Map[String, Seq[String]],
      flag: Option[org.apache.spark.sql.Column]): DataFrame = {
    val dvRows = files.flatMap(f => dvs.get(f).toSeq.flatMap(vs =>
      graft.sources.dsv2.LakeDv.positions(dir, vs)).map(p => (f, p)))
    val dvDf = spark.createDataFrame(
      if (dvRows.isEmpty) Seq(("", -1L)) else dvRows).toDF("__f", "__p")
    spark.read.schema(schema)
      .parquet(files.map(f => s"$dir/$f"): _*)
      .withColumn("__f", col("_metadata.file_name"))
      .withColumn("__p", col("_metadata.row_index"))
      .join(broadcast(dvDf), Seq("__f", "__p"), "left_anti")
      .withColumn("__eqd", flag.getOrElse(lit(false)))
  }

  /** Dead (DV'd) position count of `files` at `head`. */
  private def dvDead(dir: String,
                     head: graft.sources.dsv2.LakeLog.Snapshot,
                     files: Seq[String]): Long =
    files.map(f => head.dvs.get(f).map(vs => graft.sources.dsv2.LakeDv
      .positions(dir, vs).length.toLong).getOrElse(0L)).sum

  /** Rewrite the table clustered by the interleaved z-value of `cols`
    * (numeric), as a `dataChange=false` commit — same rows, new layout
    * with tight per-file/row-group min-max rectangles on EVERY listed
    * dimension, so footer-stats pruning works for predicates on any of
    * them (a single-column sort clusters one dim and scatters the
    * rest). The min/max handshake is one metadata-scale aggregate;
    * everything else is integer shifts. On a partitioned table the
    * clustering runs per partition (`targetFiles` spreads across
    * partitions proportionally to bytes). Returns
    * (files before, files after).
    */
  def zorder(spark: SparkSession, dir: String, cols: Seq[String],
             targetFiles: Int): (Int, Int) = {
    require(cols.nonEmpty && cols.size <= 4,
      s"zorder takes 1-4 numeric columns, got ${cols.size}")
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    val head = LakeLog.current(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no snapshot log to cluster"))
    if (head.files.isEmpty) return (0, 0)
    val fs = new Path(dir).getFileSystem(new Configuration())
    val schema0 = LakeTableIO.tableSchema(dir)
    // RETIREMENT FOLDING (r15): zorder rewrites rows anyway, so under
    // live equality refs it APPLIES and RETIRES them in the same
    // dataChange=false commit — every output gets a fresh add version
    // past every ref, and the whole file set (DV'd files included)
    // joins the rewrite with positions + matching keys subtracted by
    // the flagged read. Without refs, files carrying deletion vectors
    // stay excluded: the plain parquet rewrite below cannot subtract
    // DV positions, and the replace commit retires a replaced file's
    // DVs, so clustering a DV'd file would silently RESURRECT its
    // deleted rows — rewriteDeletes materializes those first.
    val retire = head.eqs.nonEmpty
    if (retire)
      graft.sources.dsv2.LakeEq.requireSequenceable(dir, head.eqs,
        head.files, head.stats)
    val flag: Option[org.apache.spark.sql.Column] =
      if (retire) Some(eqFold(spark, dir, head, schema0)._2) else None
    val zFiles =
      if (retire) head.files else head.files.filterNot(head.dvs.contains)
    if (zFiles.isEmpty) return (head.files.size, head.files.size)
    val liveSrcRows = LakeTableIO.footerRows(zFiles.map(new Path(dir, _))) -
      (if (retire) dvDead(dir, head, zFiles) else 0L)
    // 16 bits/dim caps the z at 2^32 well inside Long; `1L <<` because
    // the single-column case (bits=32 under the old Int math) wrapped
    // (1 << 32) - 1 to 0 and normalized every row to bucket zero
    val bits = math.min(16, 32 / cols.size)
    // derived-column names carry a fresh UUID so a user column can
    // never collide: a table legitimately named `__z` used to have its
    // DATA silently replaced by z-values under a dataChange=false
    // commit — the worst kind of corruption
    val tag = UUID.randomUUID().toString.replace("-", "")
    def lo(i: Int) = s"__lo_${tag}_$i"
    def hi(i: Int) = s"__hi_${tag}_$i"
    val zCol = s"__zval_$tag"
    // old evolution vintages — and tuple-less files in a partitioned
    // table — MIGRATE to the current layout like compact does (same
    // connector-writer staging), so zorder leaves a uniform
    // current-spec table: pre-clustered by expression mirrors of the
    // transforms and z-SORTED within, each migrated partition comes
    // out clustered on every listed dimension too
    val specs = LakePartitioning.specsOf(dir)
    val partitioned = specs.nonEmpty && specs.last.nonEmpty
    def isCurrentLayout(f: String): Boolean =
      !partitioned || head.parts.get(f).exists { t =>
        val (id, slots) = LakePartitioning.splitTuple(t)
        id == specs.length - 1 && slots.length == specs.last.length
      }
    val migrate = zFiles.filterNot(isCurrentLayout)
    val groups = byTuple(head.parts, zFiles.filter(isCurrentLayout))
    val sizeOf = zFiles.map(f =>
      f -> fs.getFileStatus(new Path(dir, f)).getLen).toMap
    val totalBytes = math.max(1L, sizeOf.values.sum)
    val stage = new Path(dir, s".zorder-${UUID.randomUUID()}")
    // ONE z-value definition for every rewrite this call does (min/max
    // normalized over the given frame): the in-layout groups and the
    // migrated vintages must cluster under the same encoding, and the
    // encoding carries history (the `1L <<` Int-wrap fix above) that
    // must never fork
    def withZ(df: DataFrame): DataFrame = {
      val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(c).cast("double").as(lo(i)),
          max(c).cast("double").as(hi(i)))
      }
      val mm = df.agg(aggs.head, aggs.tail: _*)
      val n = df.crossJoin(broadcast(mm))
      val normed = cols.zipWithIndex.map { case (c, i) =>
        floor((col(c).cast("double") - col(lo(i))) *
          lit((1L << bits) - 1) /
          greatest(col(hi(i)) - col(lo(i)), lit(1.0d))).cast("long")
      }
      val z = (0 until bits).flatMap(b => normed.zipWithIndex.map {
        case (nc, d) =>
          shiftleft(shiftright(nc, b).bitwiseAND(1), b * cols.size + d)
      }).reduce(_ + _)
      n.withColumn(zCol, z)
    }
    var eqRemoved = 0L
    // one group's SOURCE rows (live rows when retiring: DV positions +
    // matching keys subtracted, the eq-removed count action folded
    // around the use via a spill-safe persist — one scan, not two)
    def withSource[A](files: Seq[String])(use: DataFrame => A): A =
      if (!retire) use(spark.read.schema(schema0)
        .parquet(files.map(f => s"$dir/$f"): _*))
      else {
        val raw = flaggedRows(spark, schema0, dir, files, head.dvs, flag)
        raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          eqRemoved += raw.filter(col("__eqd")).count()
          use(raw.filter(!col("__eqd")).drop("__f", "__p", "__eqd"))
        } finally raw.unpersist()
      }
    try {
      // cluster WITHIN each partition group (min/max normalization per
      // group — tighter rectangles than global bounds anyway); the
      // single-group case is the unpartitioned table
      val stagedByGroup = groups.zipWithIndex.map {
        case ((tuple, files), gi) =>
          val gStage = new Path(stage, s"g$gi")
          withSource(files) { df =>
            val nOut = math.max(1, math.round(targetFiles.toDouble *
              files.map(sizeOf).sum / totalBytes).toInt)
            withMicrosTimestamps(spark) {
              withZ(df)
                .repartitionByRange(nOut, col(zCol))
                .sortWithinPartitions(zCol)
                .select(df.columns.map(col): _*)
                .write.parquet(gStage.toString)
            }
          }
          val staged = fs.listStatus(gStage).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath)
          (tuple, staged)
      }
      // layout migration: old vintages rewrite THROUGH the connector
      // writer (rows split per current-spec tuple), pre-clustered by
      // transform mirrors and z-sorted within each cluster — the
      // writer computes the authoritative tuple per row, so a mirror
      // bug could only cost extra files, never misplace a row
      val stagedMigrated: Seq[(Path, Option[Seq[String]])] =
        if (migrate.isEmpty) Seq.empty
        else {
          val boundSpec = LakePartitioning.bind(specs.last, schema0)
          withSource(migrate) { df =>
            val nOut = math.max(1, math.round(targetFiles.toDouble *
              migrate.map(sizeOf).sum / totalBytes).toInt)
            val cl = clusterExprs(boundSpec)
            val clustered = withZ(df)
              .repartition(nOut, cl: _*)
              .sortWithinPartitions(cl :+ col(zCol): _*)
              .select(df.columns.map(col): _*)
            withMicrosTimestamps(spark) {
              LakeTableIO.stageThroughConnector(clustered, dir)
            }.map(s => (new Path(s.stagedPath), s.tuple))
          }
        }
      val allStaged: Seq[(Path, Option[Seq[String]])] =
        stagedByGroup.flatMap { case (tuple, staged) =>
          staged.map(p => (p, tuple))
        } ++ stagedMigrated
      val stagedRows = LakeTableIO.footerRows(allStaged.map(_._1))
      require(stagedRows == liveSrcRows - eqRemoved,
        s"zorder would change contents: staged $stagedRows != live " +
          s"$liveSrcRows - eq-deleted $eqRemoved")
      val published = allStaged.map { case (p, tuple) =>
        val dest = new Path(dir, s"part-${UUID.randomUUID()}.parquet")
        if (!fs.rename(p, dest))
          throw new java.io.IOException(s"failed to publish $p -> $dest")
        (dest.getName, tuple)
      }
      try LakeLog.commit(dir, s"zorder(${cols.mkString(",")})",
        published.map(_._1), zFiles, addedRows = 0L,
        dataChange = false,
        addedParts = published.collect {
          case (n, Some(t)) => n -> t
        }.toMap,
        // retiring BY NAME (r16): exactly the planned refs go; a ref
        // a concurrent epoch committed mid-rewrite SURVIVES and still
        // attaches to the outputs via the inherited add version below
        eqsRetire = if (retire) head.eqs.map(_.name) else Seq.empty,
        // SEQUENCE INHERITANCE (r16): outputs keep the PLAN version
        // as their add version, so refs committed while the rewrite
        // was in flight still attach to the rewritten rows — epochs
        // keep committing while maintenance runs
        addedSeqs = published.map(_._1 -> head.version).toMap,
        // planned refs must still be live (a concurrent maintenance
        // pass retiring one means this fold raced another rewrite) —
        // re-checked per publish attempt adjacent to the version CAS
        prePublish = eqGuard(dir, head, "zorder"))
      catch { case e: Throwable =>
        unpublish(fs, dir, published.map(_._1)); throw e }
      (head.files.size, head.files.size - zFiles.size + published.size)
    } finally fs.delete(stage, true)
  }

  /** Bin small files into ~`targetBytes` ones as a `dataChange=false`
    * commit — same rows, new layout, so incremental consumers (the
    * streaming source) skip it natively and time travel still sees the
    * old layout. Files already at/above target are left alone; row
    * preservation is asserted from parquet FOOTERS (metadata, not a
    * data pass) before the commit publishes. Returns
    * (files before, files after).
    *
    * Racing writers are safe: a concurrent rewrite of a compacted file
    * makes the log commit CONFLICT (covered files no longer current),
    * and the staged output is abandoned — compaction can lose a race,
    * never rows.
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val head = LakeLog.current(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no snapshot log to compact"))
    // RETIREMENT FOLDING (r15): under live equality refs, compaction
    // runs the retirement rewrite (rewrite_deletes' read pipeline)
    // with the small files folded into the same pass — one
    // dataChange=false commit that merges, materializes touched DVs,
    // applies AND retires every eq ref. A continuously-upserted table
    // is thus maintainable without stopping the stream. Layout
    // migration is deliberately not folded in (rewritten files keep
    // their tuple, like rewrite_deletes) — compact again after
    // retirement for a uniform layout.
    if (head.eqs.nonEmpty) {
      val (_, _, before, after) =
        retireCore(spark, dir, head, Some(targetBytes), "compact")
      return (before, after)
    }
    val fs = new Path(dir).getFileSystem(new Configuration())
    val sized = head.files.map(f =>
      f -> fs.getFileStatus(new Path(dir, f)).getLen)
    // files carrying deletion vectors are excluded: their FOOTER row
    // counts include dead rows, so the exact row-preservation check
    // below cannot hold — rewriteDeletes is the maintenance pass that
    // materializes them first (after which they compact normally)
    val small = sized.filter(_._2 < targetBytes)
      .filterNot { case (f, _) => head.dvs.contains(f) }
    // current-layout groups bin WITHIN their partition (merging across
    // partitions would strip the merged file of any tuple; a group
    // with one small file has nothing to merge). Files of an OLD
    // evolution vintage — or tuple-less ones in a partitioned table —
    // MIGRATE to the current layout instead, regardless of size:
    // compaction is the pass that makes a post-evolution table uniform
    // again (re-enabling dynamic overwrite and SPJ grouping).
    val specs = LakePartitioning.specsOf(dir)
    val partitioned = specs.nonEmpty && specs.last.nonEmpty
    def isCurrentLayout(f: String): Boolean =
      !partitioned || head.parts.get(f).exists { t =>
        val (id, slots) = LakePartitioning.splitTuple(t)
        id == specs.length - 1 && slots.length == specs.last.length
      }
    val migrate = head.files
      .filter(f => partitioned && !isCurrentLayout(f))
      .filterNot(head.dvs.contains)
    val groups = byTuple(head.parts,
      small.map(_._1).filter(isCurrentLayout)).filter(_._2.size >= 2)
    if (groups.isEmpty && migrate.isEmpty)
      return (head.files.size, head.files.size)
    val sizeOf = sized.toMap
    val compacted = groups.flatMap(_._2) ++ migrate
    val srcRows = LakeTableIO.footerRows(compacted.map(new Path(dir, _)))
    val stage = new Path(dir, s".compact-${UUID.randomUUID()}")
    try {
      // a declared write sort order ([[LakeTableIO.SortColsKey]]) is a
      // LAYOUT INVARIANT: compaction merges by range + within-file sort
      // instead of round-robin, so the merged files stay range-disjoint
      // and internally sorted — otherwise the maintenance pass would
      // destroy the very layout the pruning stack rides on
      val sortCols = LakeTableIO.sortColumnsOf(dir)
      val stagedByGroup = groups.zipWithIndex.map {
        case ((tuple, files), gi) =>
          val nOut = math.max(1, math.ceil(
            files.map(sizeOf).sum.toDouble / targetBytes).toInt)
          val gStage = new Path(stage, s"g$gi")
          withMicrosTimestamps(spark) {
            val merged = spark.read.schema(LakeTableIO.tableSchema(dir))
              .parquet(files.map(f => s"$dir/$f"): _*)
            val shaped =
              if (sortCols.isEmpty) merged.repartition(nOut)
              else merged
                .repartitionByRange(nOut, sortCols.map(col): _*)
                .sortWithinPartitions(sortCols.map(col): _*)
            shaped.write.parquet(gStage.toString)
          }
          fs.listStatus(gStage).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(s => (s.getPath, tuple))
      }
      // layout migration: rewrite THROUGH the connector writer (rows
      // split per current-spec tuple), pre-clustered by expression
      // mirrors of the transforms so each task holds whole partitions
      val stagedMigrated: Seq[(Path, Option[Seq[String]])] =
        if (migrate.isEmpty) Seq.empty
        else {
          val schema = LakeTableIO.tableSchema(dir)
          val bound = LakePartitioning.bind(specs.last, schema)
          val nOut = math.max(1, math.ceil(
            migrate.map(f => sizeOf.getOrElse(f,
              fs.getFileStatus(new Path(dir, f)).getLen))
              .sum.toDouble / targetBytes).toInt)
          val df0 = spark.read.schema(schema)
            .parquet(migrate.map(f => s"$dir/$f"): _*)
          val clustered0 =
            df0.repartition(nOut, clusterExprs(bound): _*)
          // within each task: group by tuple, then the declared sort —
          // migrated files come out sorted too
          val clustered =
            if (sortCols.isEmpty) clustered0
            else clustered0.sortWithinPartitions(
              (clusterExprs(bound) ++ sortCols.map(col)): _*)
          withMicrosTimestamps(spark) {
            LakeTableIO.stageThroughConnector(clustered, dir)
          }.map(s => (new Path(s.stagedPath), s.tuple))
        }
      val allStaged = stagedByGroup.flatten ++ stagedMigrated
      val stagedRows = LakeTableIO.footerRows(allStaged.map(_._1))
      require(stagedRows == srcRows,
        s"compaction would lose rows: staged $stagedRows != source $srcRows")
      val published = allStaged.map { case (p, tuple) =>
        val dest = new Path(dir, s"part-${UUID.randomUUID()}.parquet")
        if (!fs.rename(p, dest))
          throw new java.io.IOException(s"failed to publish $p -> $dest")
        (dest.getName, tuple)
      }
      try LakeLog.commit(dir, "compact", published.map(_._1), compacted,
        addedRows = 0L, dataChange = false,
        addedParts = published.collect {
          case (n, Some(t)) => n -> t
        }.toMap,
        // SEQUENCE INHERITANCE (r16): outputs keep the plan version
        // as their add version, so an eq ref committed during the
        // (long) rewrite window still attaches to the merged rows —
        // no mid-operation guard needed, compaction proceeds under a
        // concurrent upsert epoch
        addedSeqs = published.map(_._1 -> head.version).toMap)
      catch { case e: Throwable =>
        unpublish(fs, dir, published.map(_._1)); throw e }
      (head.files.size, head.files.size - compacted.size + published.size)
    } finally {
      fs.delete(stage, true)
      // failed migrations leave staged files under _staging — the
      // expire vacuum's usual territory; nothing to do here
    }
  }

  /** Spark-expression CLUSTERING mirrors of the transforms — rows with
    * equal tuples land in one task, so the connector writer emits one
    * file per partition. Only co-location is needed (same tuple ⇒ same
    * expression value); the writer computes the authoritative tuple
    * per row, so even a wrong mirror could only cost extra files,
    * never misplace a row. The bucket mirror `pmod(hash, n)` is pinned
    * EQUAL to the writer's hash in LakePartitionSpec.
    */
  private def clusterExprs(
      bound: Seq[graft.sources.dsv2.LakePartitioning.Bound])
      : Seq[org.apache.spark.sql.Column] = {
    import graft.sources.dsv2.LakePartitioning._
    import org.apache.spark.sql.types.{DateType, StringType}
    bound.map { b =>
      val c = col(b.t.col)
      b.t match {
        case _: PIdentity => c
        case PBucket(n, _) => pmod(hash(c), lit(n))
        case PTruncate(w, _) => b.srcType match {
          case StringType => substring(c, 1, w)
          case _          => c - pmod(c, lit(w))
        }
        case _: PDays => b.srcType match {
          case DateType => c
          case _        => date_trunc("DAY", c)
        }
        case _: PMonths => b.srcType match {
          case DateType => trunc(c, "month")
          case _        => date_trunc("MONTH", c)
        }
        case _: PYears => b.srcType match {
          case DateType => trunc(c, "year")
          case _        => date_trunc("YEAR", c)
        }
        case _: PHours => date_trunc("HOUR", c)
      }
    }
  }

  /** Materialize merge-on-read deletion vectors AND equality deletes:
    * every data file a DV or an applicable live eq ref touches is
    * rewritten with its dead positions and matching keys dropped,
    * replacing the file (and, by [[graft.sources.dsv2.LakeLog
    * .commit]]'s replace semantics, retiring its DVs) and RETIRING the
    * whole eq-ref list in one `dataChange=false` commit — live rows
    * are IDENTICAL before and after, verified against the DV-adjusted
    * footer counts minus the counted eq removals, so streaming
    * consumers skip it like any compaction. Returns (files rewritten,
    * positions + keys materialized). This is the read-cost reclamation
    * pass MOR/upsert tables run periodically (Delta's PURGE, Iceberg's
    * rewrite_position_delete_files / rewrite_data_files).
    */
  def rewriteDeletes(spark: SparkSession, dir: String): (Int, Long) = {
    val head = LakeLog.current(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no snapshot log"))
    if (head.dvs.isEmpty && head.eqs.isEmpty) return (0, 0L)
    val (t, removed, _, _) = retireCore(spark, dir, head, None,
      "rewrite_deletes")
    (t, removed)
  }

  /** The shared retirement rewrite behind [[rewriteDeletes]] and
    * compact's retirement folding (`binBytes` set): reads targets'
    * LIVE rows (DV positions anti-joined, eq-deleted keys filtered —
    * [[flaggedRows]]), per partition GROUP so materialized files
    * inherit their tuple, optionally BINNED to ~binBytes with the
    * declared sort order preserved, then publishes one
    * `dataChange=false` replace commit that retires every eq ref.
    * Returns (targets rewritten, positions+keys materialized,
    * files before, files after).
    *
    * Layout migration is deliberately NOT folded in (rewritten files
    * keep their original tuple, exactly like plain rewrite_deletes) —
    * a post-retirement compact migrates vintages as usual.
    */
  // test-only race-injection hook: invoked between a retirement's
  // staging and its publish (the window a live system shares with
  // concurrent epoch commits); a no-op in production
  private[graft] var testMidRewrite: () => Unit = () => ()

  private def retireCore(spark: SparkSession, dir: String,
      head: graft.sources.dsv2.LakeLog.Snapshot,
      binBytes: Option[Long], what: String): (Int, Long, Int, Int) = {
    import graft.sources.dsv2.LakeEq
    val fs = new Path(dir).getFileSystem(new Configuration())
    val schema = LakeTableIO.tableSchema(dir)
    // EQUALITY-DELETE retirement: every file a live ref applies to
    // (sequencing + key-stat scoping — the same scope the scan
    // attaches and db.t.deletes advertises) rewrites with its matching
    // keys subtracted; the commit then retires the WHOLE ref list —
    // remaining files provably hold none of any ref's keys, rewritten
    // files get a fresh add version past every ref. Sequenceability is
    // a precondition, loud.
    LakeEq.requireSequenceable(dir, head.eqs, head.files, head.stats)
    val (eqApplicable, eqFlag) =
      if (head.eqs.isEmpty)
        (Map.empty[String, Seq[String]],
          None: Option[org.apache.spark.sql.Column])
      else {
        val (a, f) = eqFold(spark, dir, head, schema)
        (a, Some(f))
      }
    val mustRewrite = (head.dvs.keys ++ eqApplicable.keys).toSeq.distinct
    // binned mode folds SMALL files into the same pass: a small
    // current file merges when its tuple group ends up with >= 2
    // members in this rewrite (plain compact's rule, extended with
    // the must-rewrite files already paying the pass)
    val small: Seq[String] = binBytes match {
      case None => Seq.empty
      case Some(tb) =>
        val must = mustRewrite.toSet
        val sized = head.files.filterNot(must)
          .map(f => f -> fs.getFileStatus(new Path(dir, f)).getLen)
          .filter(_._2 < tb).map(_._1)
        byTuple(head.parts, sized ++ mustRewrite)
          .filter(_._2.size >= 2).flatMap(_._2)
          .filterNot(must)
    }
    val targets = (mustRewrite ++ small).distinct.sorted
    // unconditional (r16 semantics): planned refs must still be live
    // at publish; refs ADDED mid-rewrite are tolerated — the outputs'
    // inherited add version keeps them attached (a DV-only rewrite
    // racing a concurrent upsert-epoch eq commit is safe for the same
    // reason, where pre-inheritance it silently resurrected that
    // epoch's deleted rows)
    val guard: () => Unit = eqGuard(dir, head, what)
    if (targets.isEmpty) {
      // refs exist but apply to nothing (every file postdates them or
      // provably holds none of their keys): retire the dead list —
      // BY NAME, so a ref a concurrent epoch commits mid-pass
      // survives — without touching any bytes
      if (head.eqs.nonEmpty)
        LakeLog.commit(dir, what, Seq.empty, Seq.empty, 0L,
          dataChange = false, eqsRetire = head.eqs.map(_.name),
          prePublish = guard)
      return (0, 0L, head.files.size, head.files.size)
    }
    val deadPositions = dvDead(dir, head, targets)
    val liveRows = LakeTableIO.footerRows(
      targets.map(new Path(dir, _))) - deadPositions
    val sortCols =
      if (binBytes.isDefined) LakeTableIO.sortColumnsOf(dir)
      else Seq.empty
    val stage = new Path(dir, s".rewrite-dv-${UUID.randomUUID()}")
    try {
      // rewrites run per partition GROUP so the materialized files
      // inherit their tuple; the removed-count action and the write
      // share ONE scan via a spill-safe persist (re-reading the group
      // twice would double the retirement pass's I/O for a counter)
      val groups = byTuple(head.parts, targets)
      var eqRemoved = 0L
      val stagedByGroup = groups.zipWithIndex.map {
        case ((tuple, files), gi) =>
          val gStage = new Path(stage, s"g$gi")
          val withFlag = flaggedRows(spark, schema, dir, files,
            head.dvs, eqFlag)
          if (head.eqs.nonEmpty) withFlag.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (head.eqs.nonEmpty)
              eqRemoved += withFlag.filter(col("__eqd")).count()
            val clean = withFlag.filter(!col("__eqd"))
              .drop("__f", "__p", "__eqd")
            // binned mode: merge to ~binBytes per group; a declared
            // write sort order is a LAYOUT INVARIANT — merge by range
            // + within-file sort, exactly like plain compact
            val shaped = binBytes match {
              case None => clean
              case Some(tb) =>
                val nOut = math.max(1, math.ceil(files.map(f =>
                  fs.getFileStatus(new Path(dir, f)).getLen)
                  .sum.toDouble / tb).toInt)
                if (sortCols.isEmpty) clean.repartition(nOut)
                else clean
                  .repartitionByRange(nOut, sortCols.map(col): _*)
                  .sortWithinPartitions(sortCols.map(col): _*)
            }
            withMicrosTimestamps(spark) {
              shaped.write.parquet(gStage.toString)
            }
          } finally if (head.eqs.nonEmpty) withFlag.unpersist()
          val staged = fs.listStatus(gStage).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath)
          (tuple, staged)
      }
      val stagedRows = LakeTableIO.footerRows(stagedByGroup.flatMap(_._2))
      require(stagedRows == liveRows - eqRemoved,
        s"$what would change contents: staged $stagedRows " +
          s"!= live $liveRows - eq-deleted $eqRemoved")
      val published = stagedByGroup.flatMap { case (tuple, staged) =>
        staged.map { p =>
          val dest = new Path(dir, s"part-${UUID.randomUUID()}.parquet")
          if (!fs.rename(p, dest))
            throw new java.io.IOException(s"failed to publish $p -> $dest")
          (dest.getName, tuple)
        }
      }
      // deterministic race-injection point for the concurrency pins
      // (LakeEqDeleteSpec): runs between staging and publish, where a
      // live system would see concurrent epoch commits
      testMidRewrite()
      try LakeLog.commit(dir, what, published.map(_._1),
        targets, addedRows = 0L, dataChange = false,
        addedParts = published.collect {
          case (n, Some(t)) => n -> t
        }.toMap,
        // name-scoped retirement + sequence inheritance (r16): the
        // planned refs retire, a concurrent epoch's ref survives and
        // attaches to the outputs via their inherited add version
        eqsRetire = head.eqs.map(_.name),
        addedSeqs = published.map(_._1 -> head.version).toMap,
        prePublish = guard)
      catch { case e: Throwable =>
        unpublish(fs, dir, published.map(_._1)); throw e }
      (targets.size, deadPositions + eqRemoved,
        head.files.size, head.files.size - targets.size + published.size)
    } finally fs.delete(stage, true)
  }
}
