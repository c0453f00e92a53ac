package graft.sources.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The CHANGE-DATA-FEED metadata table of a [[LakeTable]] — Delta CDF /
  * Iceberg `db.t.changes`, resolved by [[GraftCatalog]] under the same
  * spelling (`SELECT * FROM cat.db.t.changes`). Each row is one change
  * EVENT: the base table's columns plus `_change_type` ('insert' |
  * 'delete' | 'update_preimage' | 'update_postimage' — Delta CDF's
  * four-way typing; updates pair via the manifest's commit-time
  * update annotation, see [[LakeTableIO.planCdcVersion]]) and
  * `_commit_version`.
  *
  * Batch reads replay the retained commit history (or a
  * `startingVersion`/`endingVersion` option range — pass options via
  * `spark.read.option(...).table(...)`); streaming reads
  * (`spark.readStream.table("cat.db.t.changes")`) replay commits as
  * micro-batches with the SAME offsets, pacing, expiry-gap and
  * recreated-table guards as the append-only lake stream.
  *
  * What makes this strictly stronger than the append-only stream: a
  * MERGE-ON-READ commit — which that stream must reject or skip (rows
  * vanish without a file changing hands) — is fully expressible here,
  * as delete events read from the commit's deletion-vector positions
  * (the pre-images are still on disk) plus insert events from its
  * added files. Copy-on-write replaces remain the documented fail-loud
  * (see [[LakeTableIO.planCdcVersion]]); `write.mode=merge-on-read` is
  * the table mode that makes every DML change-streamable.
  *
  * Scale: planning a batch opens only the footers the range's commits
  * added or DV'd (manifest stats prune pushed-filter-excluded files
  * first); nothing ever scans the table.
  */
class LakeChangesTable(tableName: String, val dir: String) extends Table
    with SupportsRead {

  override def name(): String = tableName

  override lazy val schema: StructType = {
    val base = LakeTableIO.tableSchema(dir)
    val reserved = Set(LakeTableIO.CdcChangeType, LakeTableIO.CdcVersion)
    val clash = base.fieldNames.filter(reserved)
    require(clash.isEmpty,
      s"table $tableName cannot expose a change feed: base columns " +
        s"${clash.mkString(", ")} collide with the reserved CDF names")
    StructType(base.fields ++ Seq(
      StructField(LakeTableIO.CdcChangeType, StringType, nullable = false),
      StructField(LakeTableIO.CdcVersion, LongType, nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeChangesScanBuilder(dir, schema,
      Option(options.get("startingVersion")).map(LakeLog.resolve(dir, _)),
      Option(options.get("endingVersion")).map(LakeLog.resolve(dir, _)),
      options.getBoolean("skipChangeCommits", false),
      StreamPacing(
        maxCommitsPerBatch = options.getLong("maxCommitsPerBatch", 8L),
        maxRowsPerTrigger =
          Option(options.get("maxRowsPerTrigger")).map(_.toLong),
        maxFilesPerTrigger =
          Option(options.get("maxFilesPerTrigger")).map(_.toInt)))
}

class LakeChangesScanBuilder(dir: String, cdcSchema: StructType,
                             startingVersion: Option[Long],
                             endingVersion: Option[Long],
                             skipReplaceCommits: Boolean,
                             pacing: StreamPacing)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var projected: StructType = cdcSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    projected = StructType(cdcSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(LakeTableIO.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new LakeChangesScan(dir, projected, pushed,
    startingVersion, endingVersion, skipReplaceCommits, pacing)
}

class LakeChangesScan(dir: String, projected: StructType,
                      pushed: Array[Filter],
                      startingVersion: Option[Long],
                      endingVersion: Option[Long],
                      skipReplaceCommits: Boolean,
                      pacing: StreamPacing)
    extends Scan with Batch {
  override def readSchema(): StructType = projected
  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new LakeMicroBatchStream(dir, projected, pushed,
      skipChangeCommits = skipReplaceCommits,
      startingVersion = startingVersion,
      maxCommitsPerBatch = pacing.maxCommitsPerBatch,
      maxRowsPerTrigger = pacing.maxRowsPerTrigger,
      maxFilesPerTrigger = pacing.maxFilesPerTrigger,
      cdc = true)

  /** Batch replay: `startingVersion` (inclusive, default: the start of
    * the contiguously retained suffix) .. `endingVersion` (inclusive,
    * default: head). When the default start sits past v0 (expiry
    * trimmed the front), the first version contributes its COMPLETE
    * live state as insert events — the same snapshot-then-increments
    * opening the stream uses — because its own append delta is history
    * the vacuum already removed.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // version-only head resolution: no manifest read to learn the head
    val head = LakeLog.currentVersion(dir).getOrElse(
      throw new IllegalStateException(
        s"cannot read the change feed of unlogged directory $dir — " +
          "one committed write bootstraps the log"))
    val earliest = LakeLog.contiguousStart(dir).getOrElse(0L)
    val from = startingVersion.getOrElse(earliest)
    val to = endingVersion.getOrElse(head)
    require(from >= earliest,
      s"startingVersion $from of $dir is expired or stranded behind a " +
        s"history gap (earliest contiguously retained: v$earliest)")
    require(to <= head,
      s"endingVersion $to of $dir is beyond the head v$head")
    require(from <= to,
      s"change-feed range must go forward: $from .. $to")
    val cols = LakeTableIO.columnRefs(projected)
    (from to to).flatMap { v =>
      // the default start on a trimmed log opens with the snapshot;
      // an EXPLICIT startingVersion is a delta cursor, like the stream's
      val asSnapshot =
        v == from && startingVersion.isEmpty && earliest > 0
      // one manifest read per version: its added/removed delta plans
      // the events, its complete per-file stats serve a ref-adding
      // version's delete side
      val snap = LakeLog.snapshotAt(dir, v)
      // equality-delete commits (the upsert-epoch shape) are fully
      // representable (r15): planCdcVersion derives the delete side
      // from the refs' key sets (pre-images from prior files, scoped
      // by sequencing + key statistics) and the insert side from the
      // commit's own post-images; the opening snapshot subtracts
      // carried refs exactly like the batch scan. skipChangeCommits
      // skips ref-adding versions like any other change commit.
      if (skipReplaceCommits && !asSnapshot &&
          ((snap.removed.nonEmpty && snap.dataChange) ||
           snap.eqs.exists(_.version == v)))
        Seq.empty
      else LakeTableIO.planCdcVersion(dir, snap, cols, pushed, asSnapshot)
    // row-path pin when any split is positional — an append-only
    // replay stays columnar (constant _change_type/_version vectors)
    }.toArray match { case ps => LakeTableIO.pinRowIfPositionalCdc(ps) }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(projected)

  override def description(): String =
    s"graft_lake_changes $dir versions=[${startingVersion.getOrElse("earliest")}" +
      s"..${endingVersion.getOrElse("head")}] pushed=[${pushed.mkString(",")}]"
}
