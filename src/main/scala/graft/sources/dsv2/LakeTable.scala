package graft.sources.dsv2

import java.util
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A file-backed DataSource V2 TABLE over a directory of parquet files —
  * the mount-an-external-store seam, with the full connector ladder
  * exercised against REAL row groups:
  *
  *   - READ: column pruning reaches the parquet column-chunk level (the
  *     reader materializes only requested chunks), and comparison
  *     filters narrow the SPLITS — one Spark input partition per row
  *     group, planned only when the group's footer min/max stats can
  *     satisfy the filter. Filters stay RESIDUAL (Spark re-applies them
  *     post-scan) so stats pruning is purely an efficiency contract,
  *     never a correctness dependency.
  *   - WRITE: `INSERT INTO` appends via stage-then-publish parquet
  *     writers: each task stages its file, and the driver's commit
  *     publishes every staged file in one log snapshot.
  *   - ROW-LEVEL OPS: `MERGE INTO` works via Spark's group-based
  *     copy-on-write rewrite ([[SupportsRowLevelOperations]]): Spark
  *     plans the merge join + carry-over logic, this table supplies the
  *     affected-group scan and the replacing write. The row-level scan
  *     deliberately does NOT prune (no filter/column pushdown): the
  *     replace granularity is the FILE, so the scan must surface every
  *     row of every file it marks affected — pruning there would lose
  *     carry-over rows on commit.
  *
  * At 100 TB the same contracts hold per-partition: splits are row
  * groups (~128 MB), pruning is footer-stats metadata work on the
  * driver, and copy-on-write rewrites only affected files.
  *
  * Every committed write is a [[LakeLog]] snapshot, which adds the
  * versioned-table surface on top: time travel (`VERSION AS OF` /
  * `TIMESTAMP AS OF` through [[GraftCatalog]]), version-diff CDC
  * ([[graft.operators.LakeSnapshots]]), rollback, history expiry, and a
  * MICRO_BATCH_READ streaming source that replays commits
  * ([[LakeMicroBatchStream]]). `pinnedVersion` fixes reads to one
  * snapshot and rejects writes — the time-travel flavor of the table.
  */
class LakeTable(tableName: String, val dir: String,
                val pinnedVersion: Option[Long] = None,
                val branch: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String =
    tableName + branch.map(b => s"@$b").getOrElse("") +
      pinnedVersion.map(v => s"@v$v").getOrElse("")

  override lazy val schema: StructType = LakeTableIO.tableSchema(dir)

  override def properties(): util.Map[String, String] =
    LakeTableIO.tableProps(dir).asJava

  /** Hidden-partitioning transforms ([[LakePartitioning]]) — what
    * `DESCRIBE` shows, what Spark's dynamic-overwrite analysis
    * consults, and the shape the scan's KeyGroupedPartitioning and the
    * write's required clustering both derive from.
    */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    LakePartitioning.toTransforms(LakePartitioning.specOf(dir))

  /** `_file` / `_pos` — the per-row file identity (Iceberg's metadata
    * columns): queryable directly and the rowId the merge-on-read
    * delta operation keys its deletion vectors on.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    LakeTableIO.metadataFields.map(f =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = f.name
        override def dataType(): org.apache.spark.sql.types.DataType =
          f.dataType
        override def isNullable: Boolean = false
        override def comment(): String =
          if (f.name == LakeTableIO.MetaFile) "data file name"
          else "file-relative row position"
      }).toArray

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(dir, schema, pinnedVersion,
      options.getBoolean("skipChangeCommits", false),
      // streaming backfill cursor: version id or tag name; the stream's
      // first batch starts AT this commit instead of v0
      Option(options.get("startingVersion")).map(LakeLog.resolve(dir, _)),
      branch,
      StreamPacing(
        maxCommitsPerBatch = options.getLong("maxCommitsPerBatch", 8L),
        maxRowsPerTrigger =
          Option(options.get("maxRowsPerTrigger")).map(_.toLong),
        maxFilesPerTrigger =
          Option(options.get("maxFilesPerTrigger")).map(_.toInt)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to time-travel read $name")
    // INSERT INTO appends; INSERT OVERWRITE arrives as either dynamic
    // partition overwrite (replace exactly the partitions the write
    // produces) or a filter overwrite (static partition spec /
    // truncate) — both resolve to a file-level replace at commit time
    // ([[LakeOverwrite]]), atomic under the same manifest conflict
    // rules as DML.
    // NATIVE STREAMING UPSERT ([[LakeUpsertWrite]]): opt-in via write
    // options — `upsert.keys` switches the whole write to the keyed
    // fold + equality-delete epoch shape (streaming-only; batch
    // upserts are MERGE INTO)
    Option(info.options.get("upsert.keys")).foreach { keys =>
      val order = Option(info.options.get("upsert.order")).getOrElse(
        throw new IllegalArgumentException(
          "graft_lake upsert: option 'upsert.order' (a per-key " +
            "sequence column) is required — without it the winning " +
            "event per key within an epoch is undefined"))
      val tomb = Option(info.options.get("upsert.tombstone"))
      // `upsert.retire.maxRefs` — the sink-side auto-retirement knob:
      // when the live ref count reaches N after an epoch commit, the
      // sink runs retirement inline (between epochs, where the only
      // writer of this query is idle), bounding read amplification
      // without ever stopping the stream
      val retireMax = Option(info.options.get("upsert.retire.maxRefs"))
        .map { v =>
          val n = v.toInt
          require(n >= 1,
            s"graft_lake upsert: upsert.retire.maxRefs must be >= 1: $n")
          require(branch.isEmpty,
            "graft_lake upsert: upsert.retire.maxRefs operates on MAIN " +
              "history — WAP branches retire after fast_forward")
          n
        }
      return new WriteBuilder {
        override def build(): Write = new LakeUpsertWrite(dir,
          info.schema(),
          keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          order, tomb, info.queryId(), branch, retireMax)
      }
    }
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var mode: LakeOverwrite = LakeOverwrite.Append
      override def overwriteDynamicPartitions(): WriteBuilder = {
        require(LakePartitioning.specOf(dir).nonEmpty,
          s"$name is unpartitioned — dynamic partition overwrite has " +
            "nothing to key on (use plain INSERT OVERWRITE)")
        mode = LakeOverwrite.Dynamic
        this
      }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        mode = LakeOverwrite.ByFilters(filters)
        this
      }
      override def build(): Write =
        new LakeWrite(dir, info.schema(), replaceFiles = null,
          mode match {
            case LakeOverwrite.Append => "append"
            case LakeOverwrite.Dynamic => "overwrite_dynamic"
            case LakeOverwrite.ByFilters(fs)
                if fs.forall(_.isInstanceOf[
                  org.apache.spark.sql.sources.AlwaysTrue]) => "truncate"
            case _ => "overwrite"
          },
          branch, queryId = info.queryId(), overwrite = mode)
    }
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot run DML against time-travel read $name")
    // DML under live refs (r15): SOUND — the operation's source and
    // target scans SUBTRACT eq-deleted rows (a rewrite materializes
    // live rows only, so copy-on-write outputs' fresh add versions
    // legitimately escape the refs — their dead rows are gone), MOR
    // DV'd files keep their add versions so refs keep attaching, and
    // the eq-set-stability prePublish guard closes the mid-operation
    // ref race. Only UNSEQUENCEABLE vintages stay loud.
    if (LakeTableIO.snapshotEqs(dir, None, branch).nonEmpty) {
      val ((files, _, stats, _), eqs) =
        LakeTableIO.snapshotViewEq(dir, None, branch)
      LakeEq.requireSequenceable(dir, eqs, files.map(_.getName), stats)
    }
    // DML mode is a TABLE property: merge-on-read routes to the
    // delta-based operation (deletion vectors — SupportsDelta), the
    // default stays group-based copy-on-write. Same switch Iceberg
    // exposes per command (write.delete.mode etc.), collapsed to one.
    if (LakeTableIO.tableProps(dir)
        .get("write.mode").contains("merge-on-read"))
      () => new LakeMorOperation(this, info.command)
    else
      () => new LakeRowLevelOperation(this, info.command)
  }
}

/** Group-based (copy-on-write) row-level operation: the scan records
  * which files it covered; the write replaces exactly those files at
  * commit. Appends landing between scan and commit survive — only
  * scanned files are swapped out.
  *
  * The scan supports RUNTIME group filtering
  * ([[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]):
  * when Spark derives the set of join-key values the source side can
  * touch (RowLevelOperationRuntimeGroupFiltering — the same mechanism
  * Iceberg's copy-on-write uses), files whose footer stats exclude every
  * value are DROPPED from both the scan and the replace set, so a merge
  * touching 1% of the key space rewrites ~1% of the files instead of all
  * of them. Spark only injects the filter when semantics allow it (e.g.
  * not for NOT MATCHED BY SOURCE deletes, which must see every group).
  */
class LakeRowLevelOperation(table: LakeTable,
                            cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  // the live scan: its (possibly runtime-narrowed) covered-file set is
  // the replace-write's delete set, read at commit time
  @volatile private var activeScan: LakeRowLevelScan = _
  // the eq-ref set the plan consumed — captured BEFORE the scan reads
  // its snapshot (a ref landing in between makes the commit-time
  // equality guard fail conservatively, never pass wrongly)
  @volatile private var eqsAtPlan: Seq[LakeEq.EqRef] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        eqsAtPlan = LakeTableIO.snapshotEqs(table.dir, None, table.branch)
        val (files, dvs, stats, parts) =
          LakeTableIO.snapshotView(table.dir, None, table.branch)
        // DVs apply here too: a copy-on-write rewrite must carry over
        // only LIVE rows; the replace commit then drops the covered
        // files' DVs with them (they are materialized by the rewrite).
        // Equality deletes subtract the same way (r15 — this is what
        // makes DML under live refs sound: the rewrite materializes
        // live rows only); unsequenceable vintages fail loud.
        LakeEq.requireSequenceable(table.dir, eqsAtPlan,
          files.map(_.getName), stats)
        activeScan = new LakeRowLevelScan(table.schema,
          files.map(_.toString), dvs, stats,
          dir = table.dir, eqs = eqsAtPlan, parts = parts)
        activeScan
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new LakeWrite(table.dir, info.schema(),
          replaceFiles = () => activeScan.coveredFiles,
          opName = cmd.toString.toLowerCase(java.util.Locale.ROOT),
          branch = table.branch,
          eqsAtPlan = () => eqsAtPlan)
    }
}

/** The row-level operation's target scan: full rows of every covered
  * file (NO column pruning, NO row-group pruning — the replace
  * granularity is the file, so every row of a file marked affected must
  * surface or carry-over rows would be lost on commit). Runtime IN
  * filters narrow the COVERED FILE SET only, conservatively via footer
  * stats — never individual rows.
  */
class LakeRowLevelScan(tableSchema: StructType, allFiles: Seq[String],
                       dvs: Map[String, Seq[String]] = Map.empty,
                       stats: Map[String, LakeStats.FileStats] = Map.empty,
                       dir: String = "",
                       eqs: Seq[LakeEq.EqRef] = Seq.empty,
                       parts: Map[String, Seq[String]] = Map.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.expressions.Literal

  @volatile private var kept: Seq[String] = allFiles
  def coveredFiles: Seq[String] = kept

  override def readSchema(): StructType = tableSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_lake row-level scan files=${kept.size}/${allFiles.size}"

  // ONE pruning attribute — the leading column (the table's cluster key
  // by layout convention). Spark builds a single membership subquery
  // over ALL declared attributes; with several, that is a struct-typed
  // IN that DataSourceV2Strategy cannot translate to a source filter
  // (observed: "Can't translate named_struct(...) IN subquery"), which
  // silently disables group pruning. Same single-attribute design as
  // Iceberg's copy-on-write scan (its `_file`). Narrowing on a subset
  // of columns is conservative-correct: the filter values are matched
  // target rows' OWN column values, and unmatched predicates keep files.
  override def filterAttributes(): Array[NamedReference] =
    tableSchema.fieldNames.take(1).map(Expressions.column)

  override def filter(predicates: Array[Predicate]): Unit = {
    // recognize IN(col, v...) — the shape the group-filter rule sends.
    // Anything else (or any unconvertible value) keeps every file:
    // group filtering is an optimization, a bad guess is data loss.
    val keepSets = predicates.flatMap { p =>
      if (p.name() != "IN") None
      else {
        val children = p.children()
        val colName = children.headOption.collect {
          case r: NamedReference if r.fieldNames.length == 1 =>
            r.fieldNames()(0)
        }
        val values = children.drop(1).map {
          case l: Literal[_] => Option(l.value)
          case _             => None
        }
        colName match {
          case Some(c) if values.forall(_.isDefined) =>
            Some(c -> values.flatten.toSeq)
          case _ => None
        }
      }
    }
    if (keepSets.nonEmpty) {
      val refs = LakeTableIO.columnRefs(tableSchema)
        .map(r => r.name -> r).toMap
      kept = allFiles.filter { f =>
        keepSets.forall { case (c, vals) =>
          refs.get(c).forall(LakeTableIO.fileMightContain(f, _, vals,
            stats.get(new Path(f).getName)))
        }
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    // equality deletes attach per file (scoped) so the rewrite reads
    // LIVE rows only — without this a COW DML would materialize
    // eq-deleted rows back to life
    LakeTableIO.attachEq(dir,
      LakeTableIO.planRowGroups(kept.map(new Path(_)),
        LakeTableIO.columnRefs(tableSchema), Array.empty,
        pruneGroups = false, dvs, stats).parts,
      eqs, stats, tableSchema, parts)

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(tableSchema)
}

/** Streaming admission-control knobs, parsed from source options (see
  * [[LakeMicroBatchStream.latestOffset]] for the pacing contract).
  */
case class StreamPacing(maxCommitsPerBatch: Long = 8L,
                        maxRowsPerTrigger: Option[Long] = None,
                        maxFilesPerTrigger: Option[Int] = None)

class LakeScanBuilder(dir: String, tableSchema: StructType,
                      pinnedVersion: Option[Long] = None,
                      skipChangeCommits: Boolean = false,
                      startingVersion: Option[Long] = None,
                      branch: Option[String] = None,
                      pacing: StreamPacing = StreamPacing())
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var projected: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  // the V2 predicates reported back to Spark (the V1-convertible ones
  // that pruning accepted, plus recognized transform predicates)
  private var pushedV2
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  // explicit transform-equality predicates (`bucket(8,k) = 3`) the V1
  // Filter API cannot carry — pruned per file, ALWAYS residual
  private var transformPreds: Seq[LakePartitioning.TransformPred] =
    Seq.empty
  // live equality deletes ([[LakeEq]]): loaded once per scan build;
  // a read failure memoizes as the throw — a scan that cannot learn
  // its delete state must not plan (silently assuming "none" is the
  // one direction that resurrects deleted rows)
  private lazy val snapEqs: Seq[LakeEq.EqRef] =
    LakeTableIO.snapshotEqs(dir, pinnedVersion, branch)
  // decline-shaped twin for the bounding paths: any uncertainty reads
  // as "deletes present" (the offer is declined; merely slower).
  // REFINED (r15): refs that provably attach to NO current file
  // (sequencing + key-stat + tuple scoping — the scan's own
  // attachment scope) cannot stale any live count, so LIMIT/TopN
  // bounding survives insert-only upsert epochs and refs scoped to
  // other partitions/key ranges. Judged over the full snapshot (the
  // offer arrives before planning narrows the file set).
  // Some(judged ref list) when the sweep PROVED no ref attaches to
  // any snapshot file, None otherwise. The judged list rides to the
  // scan ([[LakeScan.boundEqSafe]]): bounding stays enabled only
  // while the scan's own ref set EQUALS the judged one — the proof is
  // ref-set-scoped, not time-scoped (new files postdate the refs by
  // the sequencing rule, and stats amendments only sharpen a
  // disjointness proof), so an unchanged ref set carries it and a
  // raced eq commit disables bounding without re-sweeping.
  private lazy val eqFreeJudged: Option[Seq[LakeEq.EqRef]] =
    try {
      // eqs and the files they are judged against come from ONE
      // snapshot read (a ref committed between two reads would be
      // checked against nothing); memoized — pushLimit and pushTopN
      // both consult it and the judgment is per-builder anyway
      val ((files, _, stats, parts), eqs) =
        LakeTableIO.snapshotViewEq(dir, pinnedVersion, branch)
      val free = eqs.isEmpty || {
        val tcols = LakeTableIO.columnRefs(tableSchema)
        !files.exists(f => LakeEq.attachedTo(dir, eqs, f.getName,
          stats, parts, tcols, tableSchema))
      }
      if (free) Some(eqs) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  private def eqFree: Boolean = eqFreeJudged.isDefined
  // the subset of `pushed` the scan ENFORCES (Spark drops its Filter
  // node for these) — see [[pushFilters]]
  private var consumed: Array[Filter] = Array.empty
  // the subset CONSUMED BY STATS PROOF: every snapshot file's manifest
  // stats prove every row matches ([[LakeStats.mustMatchFile]]) — see
  // [[pushFilters]]
  private var proven: Array[Filter] = Array.empty
  private var metaAgg: Option[(StructType, Seq[Seq[Any]], String)] = None
  private var limitN: Option[Int] = None
  private var topN: Option[LakeLimits.TopNPush] = None

  /** LIMIT / ORDER-BY-LIMIT file bounding ([[LakeLimits]]) is accepted
    * only when every pushed filter was CONSUMED (a residual filter
    * keeps a Filter node above the scan, so Spark never offers these
    * pushes — the check is the defensive twin, because a residual
    * filter would break the "kept files' rows are all result rows"
    * premise) and the scan is a plain table read: CDC / streaming
    * shapes range over commits, not one snapshot's file list, and an
    * already-pushed aggregate changes what the operators above see
    * (V2ScanRelationPushDown offers limit AFTER aggregates on the same
    * builder — bounding then would corrupt the one-row answer).
    */
  private def boundEligible: Boolean =
    metaAgg.isEmpty && !skipChangeCommits && startingVersion.isEmpty &&
      transformPreds.isEmpty && // residual by construction: a bounded
        // file set must hold ALL result rows, which a transform
        // predicate's row-level re-check would break
      eqFree && // equality deletes make per-file live counts unknown —
        // LIMIT/TopN bounding arithmetic would over-trust them
      pushed.forall(f => consumed.exists(_ eq f) ||
        proven.exists(_ eq f))

  override def pushLimit(limit: Int): Boolean =
    boundEligible && limit > 0 && { limitN = Some(limit); true }

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    // multi-column orders bound by their FIRST column alone: the
    // cutoff drops only units whose best first-key ranks STRICTLY past
    // W, and >= n rows rank at-or-before W on the first key — strictly
    // before every dropped row, so the tie-breaker columns can never
    // promote a dropped row into the top n. (Ties AT W survive to be
    // sorted by the remaining columns — Spark re-sorts on all of them.)
    boundEligible && limit > 0 && (orders.toSeq match {
      case o +: _ =>
        val col = o.expression match {
          case nr: NamedReference if nr.fieldNames.length == 1 =>
            Some(nr.fieldNames()(0))
          case _ => None
        }
        col.flatMap(c => tableSchema.fields.find(_.name == c)) match {
          // float/double never bound (NaN vs parquet-stats ordering —
          // the metaAggregate exclusion); binary/nested carry no bounds.
          // The allow-list mirrors the stats kinds [[LakeStats.kindOf]]
          // harvests comparably: integral, string, bool, date/timestamp
          // (int/long physicals), decimal (dec:<scale>).
          case Some(f) if (f.dataType match {
              case org.apache.spark.sql.types.ByteType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.StringType |
                   org.apache.spark.sql.types.BooleanType |
                   org.apache.spark.sql.types.DateType |
                   org.apache.spark.sql.types.TimestampType => true
              case _: org.apache.spark.sql.types.DecimalType => true
              case _ => false
            }) =>
            topN = Some(LakeLimits.TopNPush(f.name,
              o.direction == SortDirection.ASCENDING,
              o.nullOrdering == NullOrdering.NULLS_FIRST, limit))
            true
          case _ => false
        }
      case _ => false
    })
  }

  /** Both pushes are PARTIAL: Spark retains its Limit / TakeOrdered
    * operator and this scan only bounds the planned FILE set (inherited
    * by both traits — the diamond must be resolved explicitly).
    */
  override def isPartiallyPushed(): Boolean = true

  /** Metadata-only global aggregates: the manifest knows every file's
    * row count, per-column null counts and min/max bounds (stats
    * harvested at commit) and every deletion vector's size, so an
    * unfiltered COUNT(*) / COUNT(col) / MIN(col) / MAX(col) is pure
    * driver metadata — zero data read, zero footer opens. The classic
    * lakehouse fast path (Delta/Iceberg answer these from their logs
    * the same way). The answerability rules are strict and checked per
    * snapshot ([[LakeTableIO.metaAggregate]]): COUNT(*) needs only row
    * counts; COUNT(col)/MIN/MAX additionally need every file to carry
    * usable stats for that column AND the snapshot to have ZERO
    * deletion vectors (a DV'd row could be the extremum / change the
    * null split); floating-point columns never push (NaN ordering
    * diverges between engines and parquet stats). Anything else —
    * grouping, filters (this source keeps ALL filters residual, so
    * Spark leaves a Filter node and never offers the push), distinct,
    * other functions — declines and falls back to the row scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryMetaAggregate(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryMetaAggregate(agg) match {
    case some @ Some(_) => metaAgg = some; true
    case None           => false
  }

  private def tryMetaAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]], String)] = {
    // pushed filters are admissible ONLY when every one was CONSUMED —
    // partition-decided (the aggregate runs over exactly the matching
    // files) or STATS-PROVEN (every file's rows match: no restriction
    // needed, re-verified below against the aggregate's own snapshot).
    // Any merely-prunable (conservative) filter is residual, so Spark
    // keeps a Filter node and never offers the aggregate push anyway —
    // this check is the defensive twin.
    val filteredOk = pushed.forall(f =>
      consumed.exists(_ eq f) || proven.exists(_ eq f))
    val partConsumed = pushed.filter(f => consumed.exists(_ eq f))
    val filtTag =
      (if (partConsumed.isEmpty) ""
       else s", partition-filtered(${partConsumed.length})") +
      (if (proven.isEmpty) "" else s", stats-proven(${proven.length})")
    // defensive: aggregates push before limit/TopN on this builder, but
    // a bounded file set must never feed a metadata answer; a residual
    // transform predicate likewise blocks (Spark keeps a Filter node,
    // so it never offers the push — defensive twin)
    if (limitN.isDefined || topN.isDefined || transformPreds.nonEmpty)
      return None
    if (!filteredOk || agg.aggregateExpressions.isEmpty) None
    else if (agg.groupByExpressions.isEmpty)
      LakeTableIO.metaAggregate(dir, tableSchema,
        agg.aggregateExpressions.toSeq, pinnedVersion, branch,
        partConsumed, proven)
        .map { values =>
          val schema = values.zipWithIndex
            .foldLeft(new StructType()) { case (st, ((t, v), i)) =>
              st.add(s"agg_$i", t, nullable = v == null)
            }
          (schema, Seq(values.map(_._2)), "metadata-only global" + filtTag)
        }
    else
      // GROUP BY identity-partition columns: per-partition COUNT(*)
      // from the manifest alone (tuples give exact group membership,
      // DV sizes the exact live counts)
      LakeTableIO.groupedMetaAggregate(dir, tableSchema,
        agg.groupByExpressions.toSeq, agg.aggregateExpressions.toSeq,
        pinnedVersion, branch, partConsumed, proven)
        .map { case (schema, rows) =>
          (schema, rows, "metadata-grouped per-partition" + filtTag)
        }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the table's field order (parquet readers expect it); the
    // reserved `_file`/`_pos` METADATA columns append at the end when
    // requested (Spark places metadata columns after data columns)
    projected = StructType(
      tableSchema.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)) ++
      LakeTableIO.metadataFields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))

  /** Most filters stay residual (returned for Spark to re-apply); the
    * supported comparisons are ALSO used for row-group stats pruning.
    *
    * EXCEPTION — partition-filter CONSUMPTION (the Hive/Iceberg
    * contract): a filter whose truth is decided EXACTLY by every
    * file's partition tuple is fully enforced by file-level pruning,
    * so the scan consumes it and Spark drops its Filter node — which
    * is what unlocks METADATA AGGREGATES under partition filters
    * (Spark only offers the aggregate push when no post-scan filters
    * remain). Decidability covers identity transforms (any supported
    * shape — rows are homogeneous in the column), HIDDEN-PARTITIONING
    * ranges (a months()/days()/truncate() literal sitting on the
    * partition boundary the comparison needs — Iceberg's strict
    * projection), and null tests under any transform (null slots are
    * tuple-exact). Soundness preconditions, all checked here:
    *
    *   - [[LakePartitioning.exactlyDecidable]]: supported shape,
    *     liftable literal, a deciding transform in EVERY spec vintage;
    *   - every file carries a tuple, proved from the manifest (its
    *     parts map covers the file list);
    *   - no pending multi-tx files (staged files carry no tuples until
    *     published) and not a CDC-configured scan (change feeds range
    *     over historical commits this manifest does not vouch for).
    *
    * The scan re-verifies decidability per file at plan time and fails
    * LOUD (never wrong) if a concurrent commit broke the premise.
    *
    * ENTRY POINT is now the V2 predicate API ([[pushPredicates]] —
    * Spark dispatches V2 when the builder implements it): every
    * incoming predicate convertible to a V1 Filter routes through this
    * method unchanged (all consumption/proof/pruning semantics keyed
    * off V1 Filters stay intact), and the V2-only shapes — explicit
    * transform calls over the catalog's own bound functions — are
    * recognized apart ([[asTransformPred]]).
    */
  private def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(LakeTableIO.prunable)
    consumed =
      if (pushed.isEmpty || skipChangeCommits || startingVersion.isDefined)
        Array.empty
      else {
        val specs =
          try LakePartitioning.bindAll(
            LakePartitioning.specsOf(dir), tableSchema)
          catch { case _: Exception => IndexedSeq.empty }
        if (specs.isEmpty || !allFilesTupled) Array.empty
        else pushed.filter(f =>
          LakePartitioning.exactlyDecidable(specs, f))
      }
    // STATS-PROVEN consumption: a remaining pushed filter is consumed
    // when EVERY snapshot file's manifest stats PROVE all its rows
    // match ([[LakeStats.mustMatchFile]] — known-zero nulls + whole
    // [min,max] interval inside the filter's region, exact kinds
    // only). Per-file facts of the immutable bytes — no contract
    // trust, so it is sound under time travel and branches (each
    // snapshot proves with its own stats); files without stats
    // (staged tx, bootstrap, legacy) fail the proof and keep the
    // filter residual. The scan re-verifies per planned file and
    // fails LOUD if a concurrent commit broke the premise. What this
    // buys beyond dropping a no-op Filter node: metadata aggregates
    // and LIMIT/TopN bounding stay available under the filter.
    proven =
      if (skipChangeCommits || startingVersion.isDefined) Array.empty
      else {
        val remaining = pushed.filterNot(f => consumed.exists(_ eq f))
          .filter(LakeStats.provableShape) // cheap pre-gate: skip the
            // snapshot read when nothing could ever prove
        if (remaining.isEmpty) Array.empty
        else try {
          val (files0, _, stats, parts0) = LakeTableIO.snapshotView(
            dir, pinnedVersion, branch)
          // restrict the proof DOMAIN to the files the partition-
          // CONSUMED filters keep: those filters are exactly enforced
          // by pruning, so excluded files feed no rows — a filter only
          // needs proving where rows can come from (the composition
          // the grouped metadata aggregate relies on)
          val files =
            if (consumed.isEmpty) files0
            else {
              val specs =
                try LakePartitioning.bindAll(
                  LakePartitioning.specsOf(dir), tableSchema)
                catch { case _: Exception => IndexedSeq.empty }
              if (specs.isEmpty ||
                  !LakePartitioning.allDecided(files0, parts0, specs))
                files0 // undecided: prove over everything (conservative)
              else LakePartitioning.prune(files0, parts0, specs,
                consumed)._1
            }
          if (files.isEmpty) Array.empty // empty domain: nothing proven
          else {
            val refs = LakeTableIO.columnRefs(tableSchema)
            remaining.filter(f => files.forall(p =>
              stats.get(p.getName).exists(st =>
                LakeStats.mustMatchFile(st, refs, Array(f)))))
          }
        } catch { case scala.util.control.NonFatal(_) => Array.empty }
      }
    filters.filterNot(f =>
      consumed.exists(_ eq f) || proven.exists(_ eq f))
  }

  /** Every snapshot file provably carries a partition tuple, judged
    * from the manifest alone.
    */
  private def allFilesTupled: Boolean =
    try {
      if (LakeTx.pendingFor(dir).nonEmpty) return false
      val s = pinnedVersion match {
        case Some(v) => LakeLog.snapshotAt(dir, v, branch)
        case None    => LakeLog.current(dir, branch).getOrElse(return false)
      }
      s.files.forall(s.parts.contains)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** V2 predicate pushdown ([[org.apache.spark.sql.connector.read.SupportsPushDownV2Filters]]):
    * the one entry point Spark dispatches (V2 supersedes V1 when both
    * could apply — this builder implements only V2). Three-way split:
    *
    *   - predicates CONVERTIBLE to V1 Filters route through the
    *     existing [[pushFilters]] logic verbatim — pruning,
    *     partition-filter consumption, stats-proven consumption, the
    *     CHECK-contradiction domains all keyed off V1 Filters are
    *     untouched, and their residual decision is mirrored back;
    *   - TRANSFORM-EQUALITY predicates over the catalog's own bound
    *     functions (`bucket(8, k) = 3`, `years(ts) = 54` — shapes the
    *     V1 API structurally cannot carry) prune files against their
    *     manifest tuples ([[LakePartitioning.pruneTransform]]) and stay
    *     RESIDUAL: Spark keeps its Filter node and re-evaluates rows,
    *     so mixed spec vintages and tuple-less files are simply kept;
    *   - anything else is returned un-pushed.
    */
  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    val conv = predicates.map(p => p -> LakeV2Filters.toV1(p))
    val residualV1 =
      pushFilters(conv.collect { case (_, Some(f)) => f })
    // CDC / starting-version streams range over commits, not one
    // snapshot's file list — transform pruning stays off there (the
    // predicates remain residual either way)
    val recognized: Seq[(org.apache.spark.sql.connector.expressions.filter.Predicate,
        LakePartitioning.TransformPred)] =
      if (skipChangeCommits || startingVersion.isDefined) Seq.empty
      else conv.collect {
        case (p, None) => asTransformPred(p).map(p -> _)
      }.flatten.toSeq
    transformPreds = recognized.map(_._2)
    pushedV2 = conv.collect {
      case (p, Some(f)) if pushed.exists(_ eq f) => p
      case (p, None) if recognized.exists(_._1 eq p) => p
    }
    conv.collect {
      // V1-convertible: residual iff the V1 logic returned it
      case (p, Some(f)) if residualV1.exists(_ eq f) => p
      // V2-only shapes: ALWAYS residual (transform pruning is
      // best-effort; Spark re-evaluates the predicate per row)
      case (p, None) => p
    }
  }

  override def pushedPredicates()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    pushedV2

  /** Recognize `transform(args…) = literal` (either side; `<=>` with a
    * non-null literal is equivalent) over THIS catalog's functions —
    * the canonicalName prefix pins the function family, so a foreign
    * catalog's same-named `bucket` can never drive pruning against our
    * murmur3 tuples. Only single-part column references and non-null
    * literals qualify; the literal arrives in Catalyst INTERNAL form
    * (exactly what [[LakePartitioning.decodeSlot]] produces).
    */
  private def asTransformPred(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[LakePartitioning.TransformPred] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLiteral, NamedReference, UserDefinedScalarFunc}
    def fromCall(u: UserDefinedScalarFunc, l: VLiteral[_])
        : Option[LakePartitioning.TransformPred] = {
      if (l.value == null) return None
      if (!u.canonicalName().startsWith("graft.")) return None
      def col(e: VExpr): Option[String] = e match {
        case fr: NamedReference if fr.fieldNames.length == 1 =>
          Some(fr.fieldNames()(0))
        case _ => None
      }
      val fn = u.name().toLowerCase
      (fn, u.children()) match {
        case ("bucket" | "truncate",
            Array(pl: VLiteral[_], c)) if pl.value.isInstanceOf[Int] =>
          col(c).map(LakePartitioning.TransformPred(fn,
            Some(pl.value.asInstanceOf[Int]), _, l.value, p.toString))
        case ("days" | "months" | "years" | "hours", Array(c)) =>
          col(c).map(LakePartitioning.TransformPred(fn, None, _,
            l.value, p.toString))
        case _ => None
      }
    }
    p.name() match {
      case "=" | "<=>" => p.children() match {
        case Array(u: UserDefinedScalarFunc, l: VLiteral[_]) =>
          fromCall(u, l)
        case Array(l: VLiteral[_], u: UserDefinedScalarFunc) =>
          fromCall(u, l)
        case _ => None
      }
      case _ => None
    }
  }

  override def build(): Scan = {
    metaAgg.foreach { case (schema, rows, desc) =>
      return new LakeLocalRowsScan(schema, rows,
        s"graft_lake $dir PushedAggregates=[$desc, " +
          s"${rows.size} rows]")
    }
    // CHECK-constraint contradiction ([[LakeChecks]]): a pushed filter
    // provably unsatisfiable under the table's declared constraints
    // (WHERE qty < 0 on a table guaranteeing qty >= 0) plans ZERO
    // files — driver arithmetic, no data-file reads. HEAD reads
    // only: an older snapshot or branch may hold rows deleted before
    // the constraint was added+validated, so time travel keeps the
    // scan. Any lift/parse uncertainty keeps the scan (conservative).
    if (pushed.nonEmpty && pinnedVersion.isEmpty && branch.isEmpty &&
        startingVersion.isEmpty && !skipChangeCommits) {
      val contradicted =
        try {
          // pruneArmed: every constraint validation-watermarked and no
          // rollback/fast_forward graft past it — a restored HEAD can
          // hold pre-validation rows the guarantee never covered
          LakeChecks.pruneArmed(dir) && {
            val texts = LakeChecks.configured(dir).map(_._2)
            texts.nonEmpty && LakeChecks.contradicts(
              LakeChecks.domains(
                org.apache.spark.sql.SparkSession.active, texts), pushed)
          }
        } catch { case scala.util.control.NonFatal(_) => false }
      if (contradicted)
        // proven rides along: the batch plan is empty either way, but
        // a STREAM built from this scan still needs the per-batch
        // proof guard for filters Spark already dropped
        return new LakeScan(dir, Seq.empty, tableSchema, projected,
          pushed, pruneGroups = true, pinnedVersion, skipChangeCommits,
          startingVersion, branch, pacing, Map.empty, Map.empty,
          Map.empty, consumed, limitN, topN, checkPruned = true,
          proven = proven, eqs = snapEqs,
          boundJudgedEqs =
            if (limitN.isDefined || topN.isDefined) eqFreeJudged
            else None)
    }
    val (files, dvs, stats, parts) =
      LakeTableIO.snapshotView(dir, pinnedVersion, branch)
    new LakeScan(dir, files, tableSchema, projected, pushed,
      pruneGroups = true, pinnedVersion, skipChangeCommits,
      startingVersion, branch, pacing, dvs, stats, parts, consumed,
      limitN, topN, proven = proven, transformPreds = transformPreds,
      eqs = snapEqs,
      boundJudgedEqs =
        if (limitN.isDefined || topN.isDefined) eqFreeJudged
        else None)
  }
}

/** Column-resolution spec for one projected column: the OUTPUT name,
  * the field id (-1 when the schema predates ids), and the ordered
  * name candidates (current name, then prior names) that id-less
  * legacy files resolve by. See [[LakeTableIO.resolveInFile]]. The
  * reserved metadata columns `_file`/`_pos` are SYNTHESIZED by the
  * reader (file path / file-relative row position), never read from
  * parquet.
  */
case class LakeColumnRef(name: String, id: Int, candidates: Array[String])

/** One input partition per (file, row group) surviving stats pruning.
  * `dvFiles` are the deletion-vector sidecars of THIS data file at the
  * scanned version — the reader subtracts their row positions.
  */
/** Change-data-feed annotation on a partition: every row it emits is
  * one change event of `version` with the given `changeType`. With
  * `onlyPositions` set (a MOR delete event), the reader emits ONLY the
  * rows at those file-relative positions — the pre-images the commit's
  * deletion vectors removed; without it (an insert event), the whole
  * file as of its add-commit flows, with NO deletion vectors applied
  * (later deletes are later events, not retroactive edits).
  */
case class LakeCdcInfo(changeType: String, version: Long,
                       onlyPositions: Option[Array[Long]] = None,
                       // EQUALITY-delete event read (the upsert-epoch
                       // commit): emit ONLY rows whose key matches one
                       // of these sidecars' key sets — the pre-images
                       // the commit's refs tombstoned. Unlike
                       // onlyPositions there is nothing positional to
                       // page-prune; key-stat scoping bounds the FILE
                       // set instead.
                       onlyEqFiles: Seq[String] = Seq.empty)

case class LakeInputPartition(path: String, rowGroup: Int,
                              cols: Array[LakeColumnRef],
                              dvFiles: Seq[String] = Seq.empty,
                              cdc: Option[LakeCdcInfo] = None,
                              pkey: Array[Any] = null,
                              // EQUALITY-DELETE sidecars applicable to
                              // this file ([[LakeEq]] sequencing rule,
                              // resolved at plan time) + resolution
                              // refs for every involved key column —
                              // the reader decodes keys (hidden when
                              // not projected) and skips matching rows
                              eqFiles: Seq[String] = Seq.empty,
                              eqCols: Array[LakeColumnRef] = Array.empty,
                              // per-split row-path kill-switch. Since
                              // r16 the columnar reader subtracts eq
                              // attachments itself, so no planner sets
                              // this today; it remains the explicit
                              // escape hatch for any future split
                              // shape only the row reader can serve
                              // (set it on EVERY split of a batch —
                              // Spark requires a uniform columnar
                              // answer per batch)
                              forceRow: Boolean = false)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Partition key for storage-partitioned-join grouping — decoded
    * transform values in spec order. Only consulted when the scan
    * reports KeyGroupedPartitioning, which it does only after stamping
    * every partition's key ([[LakeScan.outputPartitioning]]).
    */
  override def partitionKey(): InternalRow = {
    require(pkey != null,
      s"partitionKey consulted on an unkeyed split of $path")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(pkey)
  }
}

class LakeScan(dir: String, files: Seq[Path], tableSchema: StructType,
               projected: StructType, pushed: Array[Filter],
               pruneGroups: Boolean, pinnedVersion: Option[Long] = None,
               skipChangeCommits: Boolean = false,
               startingVersion: Option[Long] = None,
               branch: Option[String] = None,
               pacing: StreamPacing = StreamPacing(),
               dvs: Map[String, Seq[String]] = Map.empty,
               stats: Map[String, LakeStats.FileStats] = Map.empty,
               parts: Map[String, Seq[String]] = Map.empty,
               consumed: Array[Filter] = Array.empty,
               limitN: Option[Int] = None,
               topN: Option[LakeLimits.TopNPush] = None,
               // the whole file set was pruned by a CHECK-constraint
               // contradiction (explain evidence only)
               checkPruned: Boolean = false,
               // filters CONSUMED BY STATS PROOF at pushdown — the
               // plan re-verifies them per file and fails loud
               proven: Array[Filter] = Array.empty,
               // recognized V2 transform predicates (bucket(8,k)=3):
               // file pruning only — always residual above the scan
               transformPreds: Seq[LakePartitioning.TransformPred] =
                 Seq.empty,
               // live equality deletes ([[LakeEq]]) of the scanned
               // snapshot: applied per file by the reader (sequencing
               // rule addV < ref version); plan fails loud on any
               // file it cannot sequence
               eqs: Seq[LakeEq.EqRef] = Seq.empty,
               // the ref list the BUILDER's eqFree sweep proved
               // attach-free before offering LIMIT/TopN bounding
               // (None when no bound was pushed) — see boundEqSafe
               boundJudgedEqs: Option[Seq[LakeEq.EqRef]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = projected
  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream = {
    require(branch.isEmpty,
      "streaming reads follow MAIN history only — fast-forward the " +
        s"branch first (cannot stream $dir@${branch.getOrElse("")})")
    // live equality deletes are handled per VERSION inside the stream
    // (r15): the opening snapshot subtracts carried refs, carried-only
    // versions replay exactly, and a version that ADDED a ref fails
    // loud at its batch unless skipChangeCommits flows its post-images
    // — a blanket head-refs decline here would wrongly block streams
    // positioned entirely past the eq commits
    new LakeMicroBatchStream(dir, projected, pushed, skipChangeCommits,
      startingVersion, pacing.maxCommitsPerBatch, pacing.maxRowsPerTrigger,
      pacing.maxFilesPerTrigger, consumed = consumed, proven = proven)
  }

  /** ALL hidden-partitioning specs (partition evolution keeps every
    * vintage's layout readable) bound against the TABLE schema (source
    * columns need not be projected); empty when unpartitioned.
    */
  private lazy val specs: IndexedSeq[Seq[LakePartitioning.Bound]] =
    LakePartitioning.bindAll(LakePartitioning.specsOf(dir), tableSchema)

  private def currentBound: Seq[LakePartitioning.Bound] =
    if (specs.isEmpty) Seq.empty else specs.last

  /** PARTITION pruning first — exact tuple arithmetic on manifest
    * metadata, zero I/O per excluded file, before stats are even
    * consulted; each file judged by the spec it was written under.
    * CONSUMED filters (Spark dropped their Filter node) make this the
    * row-level enforcement too, so the plan first re-verifies that
    * every file is tuple-decided and fails LOUD — never wrong — if a
    * concurrent commit (bootstrap sweep, staged tx publish) broke the
    * consumption premise checked at pushdown time.
    */
  private lazy val (partFiles: Seq[Path], partPruned: Int) = {
    if (consumed.nonEmpty &&
        !LakePartitioning.allDecided(files, parts, specs))
      throw new IllegalStateException(
        s"graft_lake $dir: consumed partition filters " +
          s"${consumed.mkString(", ")} cannot be enforced — a snapshot " +
          "file carries no resolvable partition tuple (concurrent " +
          "bootstrap/staged commit?); re-run the query")
    val pruned0 = LakePartitioning.prune(files, parts, specs, pushed)
    // explicit transform predicates (V2 pushdown): best-effort file
    // pruning against the manifest tuples — residual above the scan,
    // so undecidable files are simply kept (never loud, never wrong)
    val pruned = {
      val (kept, n) = LakePartitioning.pruneTransform(
        pruned0._1, parts, specs, transformPreds)
      (kept, pruned0._2 + n)
    }
    // stats-proven consumed filters: re-verify the proof against THIS
    // plan's file set (a concurrent commit may have added a file the
    // pushdown-time proof never saw) — fail LOUD, never leak rows
    // past a Filter node Spark dropped. Verified AFTER partition
    // pruning: a file the (exactly-enforced) partition filters
    // exclude feeds no rows, so it needs no proof — a concurrent
    // append to an excluded partition must not abort the query.
    if (proven.nonEmpty) {
      val refs = LakeTableIO.columnRefs(tableSchema)
      pruned._1.find(p => !stats.get(p.getName).exists(st =>
        LakeStats.mustMatchFile(st, refs, proven)))
        .foreach(p => throw new IllegalStateException(
          s"graft_lake $dir: stats-consumed filters " +
            s"${proven.mkString(", ")} cannot be enforced — " +
            s"${p.getName}'s stats cannot prove them (concurrent " +
            "commit?); re-run the query"))
    }
    // equality deletes: every PLANNED file must be sequenceable against
    // the live refs (unknown add version = cannot tell whether the
    // delete predates or postdates the rows) — loud, never wrong
    LakeEq.requireSequenceable(dir, eqs, pruned._1.map(_.getName), stats)
    pruned
  }

  /** Attach each split's applicable equality deletes (sequencing rule:
    * refs committed AFTER the file's add version) plus the resolution
    * refs of every involved key column — hidden columns the reader
    * decodes without emitting.
    */
  private def withEq(ps: Array[InputPartition]): Array[InputPartition] =
    LakeTableIO.attachEq(dir, ps, eqs, stats, tableSchema, parts)

  /** Pushed-LIMIT / TopN FILE bounding ([[LakeLimits]]) — after
    * partition pruning, before row-group planning, manifest metadata
    * only. Both pushes are partial (Spark retains the operator), so the
    * bounded set only has to provably CONTAIN an answer: LIMIT keeps
    * files until exact proven live counts cover n; TopN drops files
    * whose best sort bound is beaten by >= n rows elsewhere. Runtime
    * filtering ([[filter]]) deliberately ignores this layer and narrows
    * the FULL partition-pruned set instead — a runtime-filtered scan
    * sits under a join, where the limit's row guarantee no longer
    * gates correctness but the superset contract still does.
    */
  private lazy val topNRef: Option[LakeColumnRef] = topN.flatMap(t =>
    LakeTableIO.columnRefs(tableSchema).find(_.name == t.col))

  // re-validation of the builder's eqFree judgment against THIS scan's
  // own refs: an eq ref committed between pushLimit and build() is
  // attached by the scan (its keys subtract rows), while the builder's
  // bounding arithmetic trusted the pre-eq manifest live counts — the
  // bounded file set could under-deliver rows versus the pushed LIMIT.
  // The builder's sweep already proved its judged ref list attaches to
  // NOTHING; that proof is ref-set-scoped (new files postdate the refs
  // by the sequencing rule, stats amendments only sharpen disjointness
  // proofs), so an UNCHANGED ref set carries it with no re-sweep and
  // any drift — a raced eq commit — disables bounding outright.
  // Unsafe => keep every partition-pruned file and plan unbounded row
  // groups (merely slower, never short).
  private lazy val boundEqSafe: Boolean =
    eqs.isEmpty || boundJudgedEqs.contains(eqs)

  private lazy val (boundedFiles: Seq[Path], limitPruned: Int) = {
    val afterTopN = (topN, topNRef) match {
      case (Some(t), Some(ref)) if boundEqSafe =>
        LakeLimits.topNBound(partFiles, stats, dvs, ref, t)
      case _ => partFiles
    }
    val bounded = limitN match {
      case Some(n) if boundEqSafe =>
        LakeLimits.limitBound(afterTopN, stats, dvs, n)
      case _ => afterTopN
    }
    (bounded, partFiles.size - bounded.size)
  }

  // planned on the driver from MANIFEST stats first (whole-file pruning,
  // zero I/O per excluded file), then footer metadata of the survivors —
  // where pushed LIMIT/TopN bounds trim provably-unneeded row GROUPS too
  private lazy val plan: LakeTableIO.ScanPlan =
    LakeTableIO.planRowGroups(boundedFiles,
      LakeTableIO.columnRefs(projected), pushed, pruneGroups, dvs, stats,
      bound =
        if ((limitN.isEmpty && topN.isEmpty) || !boundEqSafe) None
        else Some(LakeLimits.ScanBound(limitN,
          topN.flatMap(t => topNRef.map(t -> _)))))

  /** Stamp each split with its file's decoded partition KEY when the
    * planned file set is fully tupled — the handle Spark's
    * storage-partitioned join groups by. Throws IllegalStateException
    * on an undecodable slot (callers fall back to unkeyed).
    */
  private def stampKeys(ps: Array[InputPartition],
                        files: Seq[Path]): Array[InputPartition] =
    if (!LakePartitioning.fullyTupled(files, parts, specs)) ps
    else ps.map { p =>
      val lp = p.asInstanceOf[LakeInputPartition]
      val tuple = LakePartitioning.currentSlots(
        parts(new Path(lp.path).getName))
      val decoded = currentBound.zip(tuple).map { case (b, s) =>
        LakePartitioning.decodeSlot(b, s).getOrElse(
          throw new IllegalStateException(s"undecodable slot $s"))
      }
      lp.copy(pkey = decoded.toArray): InputPartition
    }

  /** Input partitions of the static plan, keyed when possible. */
  private lazy val keyedParts: Array[InputPartition] =
    stampKeys(plan.parts, boundedFiles)

  // ---- DYNAMIC (runtime) file pruning — DPP for the lake scan ------
  //
  // Spark's dynamic-partition-pruning machinery hands a DSv2 scan the
  // JOIN-KEY VALUE SETS it derived from the other side of an equi-join
  // (SupportsRuntimeV2Filtering). Files whose partition tuple or
  // manifest stats exclude every value drop from the plan BEFORE any
  // task launches — the star-schema contract: a fact scan joined to a
  // filtered dim reads only the dim's partitions. Zero I/O: tuples and
  // stats are manifest metadata. Declared attributes are the partition
  // source columns (partition-level precision) plus the leading column
  // (stats-level, the table's cluster key by layout convention).
  // When this scan reports KeyGroupedPartitioning, Spark REQUIRES the
  // filtered partitions to preserve every partition key (it re-groups
  // them and fails loud on a vanished group), so narrowing keeps one
  // representative file per otherwise-excluded partition — the group
  // survives with one dead split instead of its full file set.
  @volatile private var runtimeKept: Option[Seq[Path]] = None
  @volatile private var runtimePruned: Int = 0

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val cols = (currentBound.map(_.t.col) ++ tableSchema.fieldNames.take(1))
      .distinct
    cols.map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    // recognize IN(col, v...) / EqualTo(col, v) — the shapes runtime
    // filtering sends; anything unrecognized keeps every file
    val keepSets = predicates.flatMap { p =>
      val children = p.children()
      val colName = children.headOption.collect {
        case r: NamedReference if r.fieldNames.length == 1 =>
          r.fieldNames()(0)
      }
      val values = children.drop(1).map {
        case l: Literal[_] => Some(l.value)
        case _             => None
      }
      p.name() match {
        case "IN" | "=" if colName.isDefined && values.nonEmpty &&
            values.forall(_.isDefined) =>
          Some(colName.get -> values.flatten.toSeq)
        case _ => None
      }
    }
    if (keepSets.isEmpty) return
    val refs = LakeTableIO.columnRefs(tableSchema)
      .map(r => r.name.toLowerCase -> r).toMap
    def external(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other                                       => other
    }
    val kept0 = partFiles.filter { f =>
      keepSets.forall { case (c, vals) =>
        val byTuple = parts.get(f.getName).forall(t =>
          LakePartitioning.tupleMightContainAny(specs, t, c, vals))
        byTuple && refs.get(c.toLowerCase).forall { ref =>
          stats.get(f.getName).forall(st =>
            vals.exists(v => LakeStats.mightMatchFile(st, Array(ref),
              Array(EqualTo(ref.name, external(v))))))
        }
      }
    }
    // key preservation under SPJ grouping: re-add one file per
    // partition the narrowing would have emptied
    val kept =
      if (!spjKeyed) kept0
      else {
        val keptKeys = kept0.map(f => parts(f.getName)).toSet
        val representatives = partFiles
          .groupBy(f => parts(f.getName))
          .collect { case (key, fs0) if !keptKeys.contains(key) =>
            fs0.head
          }
        kept0 ++ representatives
      }
    runtimePruned = partFiles.size - kept.size
    if (runtimePruned > 0) runtimeKept = Some(kept)
  }

  private def spjKeyed: Boolean =
    try LakePartitioning.fullyTupled(partFiles, parts, specs)
    catch { case _: IllegalStateException => false }

  override def planInputPartitions(): Array[InputPartition] =
    withEq(runtimeKept match {
      case Some(kept) =>
        val ps = LakeTableIO.planRowGroups(kept,
          LakeTableIO.columnRefs(projected), pushed, pruneGroups, dvs,
          stats).parts
        // under SPJ grouping the narrowed splits still need their keys
        try stampKeys(ps, kept)
        catch { case _: IllegalStateException => ps }
      case None =>
        try keyedParts
        catch { case _: IllegalStateException => plan.parts }
    })

  /** STORAGE-PARTITIONED JOIN contract
    * ([[org.apache.spark.sql.connector.read.SupportsReportPartitioning]]):
    * when every planned file carries a partition tuple, the scan
    * reports `KeyGroupedPartitioning` over the spec's transforms —
    * Spark then groups splits by key and, with another scan reporting a
    * COMPATIBLE partitioning on the join keys, plans the join with NO
    * Exchange on either side (Iceberg's SPJ). Anything less than fully
    * tupled reports unknown: a single legacy file would make the
    * grouping wrong, and correctness never rides on the report.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val keyed =
      try LakePartitioning.fullyTupled(boundedFiles, parts, specs) &&
        keyedParts.nonEmpty
      catch { case _: IllegalStateException => false }
    if (!keyed) new UnknownPartitioning(plan.parts.length)
    else {
      // distinct keys among the PLANNED splits (a stats-pruned file's
      // key is gone with it) — the count Spark's grouping must land on
      val distinct = plan.parts.map(p =>
        parts(new Path(p.asInstanceOf[LakeInputPartition].path).getName))
        .distinct.size
      new KeyGroupedPartitioning(
        LakePartitioning.toTransforms(currentBound.map(_.t))
          .map(t => t: org.apache.spark.sql.connector.expressions.Expression),
        distinct)
    }
  }

  /** Post-prune, post-projection footer statistics: exact surviving row
    * count and uncompressed bytes of only the projected column chunks.
    * This is what lets Catalyst pick a broadcast join against a small
    * (or well-filtered) lake table instead of defaulting the side to
    * "unknown = infinite" and shuffling both.
    */
  /** DSv2 COLUMN statistics for the cost-based optimizer — the report
    * `DataSourceV2Relation.transformV2Stats` turns into catalyst
    * `ColumnStat` (join reordering, join-cardinality and filter-
    * selectivity estimation under spark.sql.cbo.enabled). Reported
    * per projected column, from the PLANNED file set's manifest
    * entries, all-or-nothing per fact so a file whose values are
    * unaccounted can never skew an estimate downward:
    *
    *   - distinctCount: the merged KMV sketches ([[LakeNdv]]) of every
    *     planned file — only when every file carries one (opt-in
    *     `stats.ndv.columns` tables; sketch-less vintages withhold);
    *   - nullCount: summed exact per-file null counts when all known;
    *   - min/max: folded per-file bounds in INTERNAL form (what
    *     catalyst ColumnStat holds), only for the exactly-ordered
    *     kinds the metadata aggregates trust, when every file has
    *     usable bounds or is provably all-null.
    *
    * ESTIMATES, not results: they steer plan choice only, so deletion
    * vectors are deliberately ignored (counts/NDV then upper-bound the
    * live values) — unlike the metadata AGGREGATES above, which return
    * answers and therefore decline on DVs.
    */
  private lazy val reportedColumnStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import java.util.{Optional, OptionalLong}
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      ColumnStatistics]()
    val fs0 = boundedFiles
    val refs = LakeTableIO.columnRefs(projected).filterNot(r =>
      r.name == LakeTableIO.MetaFile || r.name == LakeTableIO.MetaPos)
    refs.foreach { ref =>
      val per = fs0.map(f => stats.get(f.getName).flatMap(st =>
        LakeStats.resolveCol(st, ref).map(cs => (st.rows, cs))))
      if (fs0.nonEmpty && per.forall(_.isDefined)) {
        val resolved = per.flatten
        val nulls: Option[Long] =
          if (resolved.forall(_._2.nulls >= 0))
            Some(resolved.map(_._2.nulls).sum)
          else None
        val ndvEst: Option[Long] =
          if (resolved.forall(_._2.ndv.isDefined))
            LakeNdv.estimate(resolved.map(r => LakeNdv.decode(r._2.ndv.get)))
          else None
        // bounds: the metaExtreme rules — exactly-ordered kind, every
        // file usable bounds or provably all-null
        val t = projected.fields.find(_.name == ref.name).map(_.dataType)
        val extremes: Option[(Any, Any)] = for {
          tt <- t
          kind <- LakeTableIO.statKindFor(tt)
          bounds <- {
            val bs = resolved.map { case (rows, cs) =>
              if (cs.min.isDefined && cs.max.isDefined)
                if (cs.kind == kind) Some(Some((cs.min.get, cs.max.get)))
                else None // kind mismatch: withhold
              else if (cs.nulls == rows) Some(None) // all-null file
              else None // unusable bounds: withhold
            }
            if (bs.exists(_.isEmpty)) None
            else {
              val usable = bs.flatten.flatten
              if (usable.isEmpty) None // empty/all-null: no bounds
              else Some((
                LakeTableIO.decodeStat(kind, tt, usable.map(_._1)
                  .reduce((a, b) =>
                    if (LakeStats.cmpSame(kind, a, b) <= 0) a else b)),
                LakeTableIO.decodeStat(kind, tt, usable.map(_._2)
                  .reduce((a, b) =>
                    if (LakeStats.cmpSame(kind, a, b) >= 0) a else b))))
            }
          }
        } yield bounds
        // string length facts: avg = Σ total bytes / Σ non-null rows,
        // max = max of per-file maxima — only when every file carries
        // the fact and the null split is known
        val lenFacts: Option[(Long, Long)] =
          if (resolved.forall(r => r._2.tlen.isDefined &&
              r._2.mlen.isDefined) && nulls.isDefined) {
            val nonNull = resolved.map(_._1).sum - nulls.get
            if (nonNull <= 0) None
            else Some((
              math.max(1L, math.round(
                resolved.map(_._2.tlen.get.toLong).sum.toDouble /
                  nonNull.toDouble)),
              resolved.map(_._2.mlen.get.toLong).max))
          } else None
        // EQUI-HEIGHT HISTOGRAM (the seventh ColumnStat field): every
        // planned file's value reservoir ([[LakeHist]]) merged
        // weighted by its non-null count — only when every file
        // carries a sample AND a known null split (all-or-nothing: an
        // unaccounted file must not skew the shape). This is what
        // rescues selectivity estimates under skew, where min/max's
        // uniform interpolation is off by orders of magnitude.
        // the histogram must SPAN the exact [min, max] (catalyst clamps
        // filter literals to the ColumnStat bounds and ASSERTS the
        // range fits the bins — a reservoir sample that missed an
        // extreme would trip it), so the outer bins stretch to the
        // reported extremes; no extremes → no histogram (catalyst
        // never consults one without bounds anyway)
        def spanDouble(v: Any): Option[Double] = v match {
          case i: Int  => Some(i.toDouble)
          case l: Long => Some(l.toDouble)
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
          case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
          case t: java.sql.Timestamp => Some(
            (t.getTime * 1000L + (t.getNanos / 1000L) % 1000L).toDouble)
          case t: java.time.Instant => Some(
            (t.getEpochSecond * 1000000L + t.getNano / 1000L).toDouble)
          case t: java.time.LocalDateTime => Some(
            (t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
              1000000L + t.getNano / 1000L).toDouble)
          case _ => None
        }
        val histo: Option[
            org.apache.spark.sql.connector.read.colstats.Histogram] =
          if (resolved.nonEmpty &&
              resolved.forall(r => r._2.hsample.isDefined &&
                r._2.nulls >= 0)) {
            val perFile = resolved.map { case (rows, cs) =>
              (rows - cs.nulls, LakeHist.decode(cs.hsample.get))
            }
            if (perFile.exists(_._2 == null)) None // torn: withhold
            else for {
              e <- extremes
              loD <- spanDouble(e._1)
              hiD <- spanDouble(e._2)
              hb <- LakeHist.equiHeight(perFile)
            } yield {
              val (h, bs0) = hb
              val bs = bs0.zipWithIndex.map { case ((l, u, d), i) =>
                (if (i == 0) math.min(l, loD) else l,
                  if (i == bs0.size - 1) math.max(u, hiD) else u, d)
              }
              new org.apache.spark.sql.connector.read.colstats.Histogram {
                override def height(): Double = h
                override def bins(): Array[
                    org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                  bs.map { case (l, u, d) =>
                    new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                      override def lo(): Double = l
                      override def hi(): Double = u
                      override def ndv(): Long = d
                    }
                  }.toArray
              }
            }
          } else None
        if (nulls.isDefined || ndvEst.isDefined || extremes.isDefined ||
            lenFacts.isDefined || histo.isDefined)
          m.put(org.apache.spark.sql.connector.expressions.Expressions
            .column(ref.name),
            new ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndvEst.map(OptionalLong.of)
                  .getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def min(): Optional[Object] =
                extremes.map(e => Optional.of(e._1.asInstanceOf[Object]))
                  .getOrElse(Optional.empty())
              override def max(): Optional[Object] =
                extremes.map(e => Optional.of(e._2.asInstanceOf[Object]))
                  .getOrElse(Optional.empty())
              override def avgLen(): OptionalLong =
                lenFacts.map(l => OptionalLong.of(l._1))
                  .getOrElse(OptionalLong.empty())
              override def maxLen(): OptionalLong =
                lenFacts.map(l => OptionalLong.of(l._2))
                  .getOrElse(OptionalLong.empty())
              override def histogram(): Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                histo.map(Optional.of[
                    org.apache.spark.sql.connector.read.colstats.Histogram])
                  .getOrElse(Optional.empty())
            })
      }
    }
    m
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(plan.keptBytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(plan.keptRows)
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      reportedColumnStats
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(projected)

  // explain-visible evidence: projected columns + planned/total groups
  override def description(): String = {
    val n = plan.parts.length
    s"graft_lake $dir${pinnedVersion.map(v => s"@v$v").getOrElse("")} " +
      s"cols=[${projected.fieldNames.mkString(",")}] " +
      s"rowgroups=$n/${plan.totalGroups} " +
      s"files_pruned_by_partition=$partPruned/${files.size} " +
      s"files_pruned_by_limit=$limitPruned/${partFiles.size} " +
      s"files_pruned_by_stats=${plan.statsPrunedFiles}/${boundedFiles.size} " +
      (if (plan.boundPrunedGroups > 0)
        s"rowgroups_pruned_by_limit=${plan.boundPrunedGroups} " else "") +
      (if (checkPruned) "pruned_by_check=all " else "") +
      (if (proven.nonEmpty)
        s"consumed_by_stats=[${proven.mkString(",")}] " else "") +
      (if (transformPreds.nonEmpty)
        s"pushed_transform=[${transformPreds.map(_.shown).mkString(",")}] "
       else "") +
      (if (eqs.nonEmpty) s"eq_deletes=${eqs.size} " else "") +
      s"pushed=[${pushed.mkString(",")}]" +
      limitN.fold("")(n => s" pushed_limit=$n") +
      topN.fold("")(t => s" pushed_topn=[${t.col} " +
        s"${if (t.asc) "ASC" else "DESC"} NULLS " +
        s"${if (t.nullsFirst) "FIRST" else "LAST"}, n=${t.n}]")
  }
}

class LakeReaderFactory(projected: StructType)
    extends PartitionReaderFactory {

  /** Columnar when the scan shape admits it (flat primitives, no CDC
    * positions, no synthesized metadata columns) — [[LakeColumnarReader]]
    * holds the eligibility rules and the vectorized decode. Spark
    * requires the answer to be uniform across a scan's partitions;
    * eligibility therefore consults only facts UNIFORM across the
    * scan (equality-delete attachments are handled inside the
    * columnar reader since r16, so per-file attachment never flips
    * the answer).
    */
  override def supportColumnarReads(p: InputPartition): Boolean =
    LakeColumnarReader.eligible(
      p.asInstanceOf[LakeInputPartition], projected)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new LakeColumnarPartitionReader(
      p.asInstanceOf[LakeInputPartition], projected)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[LakeInputPartition]
    new PartitionReader[InternalRow] {
      private val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(part.path), new Configuration()))
      // the projection is resolved against the FILE footer schema —
      // by FIELD ID when the file carries ids (strict: a renamed
      // column keeps resolving, a dropped-and-re-added name can never
      // resurrect old values), by current-then-prior NAME for id-less
      // legacy files — so only the requested column chunks are read
      // and decoded; a projected column the file predates (ALTER TABLE
      // ADD COLUMN) is simply absent and back-fills null below. The
      // reserved `_file`/`_pos` metadata columns are synthesized here.
      private val fileSchema =
        reader.getFooter.getFileMetaData.getSchema
      private def isMeta(n: String) =
        n == LakeTableIO.MetaFile || n == LakeTableIO.MetaPos
      // EVALUATION columns: the projection, plus — when equality
      // deletes apply to this file — any involved key column the
      // projection lacks, appended HIDDEN (decoded for the membership
      // test, never emitted). The prefix invariant (evalCols starts
      // with part.cols verbatim) is what keeps every eval index below
      // part.cols.length an output ordinal.
      private val needEqCols =
        part.eqFiles.nonEmpty || part.cdc.exists(_.onlyEqFiles.nonEmpty)
      private val evalCols: Array[LakeColumnRef] =
        if (!needEqCols) part.cols
        else part.cols ++ part.eqCols.filter(ec =>
          !part.cols.exists(_.name == ec.name))
      // file column name -> eval position, via per-column resolution
      private val filePos: Map[String, Int] =
        evalCols.zipWithIndex.flatMap { case (ref, i) =>
          if (isMeta(ref.name)) None
          else LakeTableIO.resolveInFile(fileSchema, ref).map(_ -> i)
        }.toMap
      private val fileIdx =
        part.cols.indexWhere(_.name == LakeTableIO.MetaFile)
      private val posIdx =
        part.cols.indexWhere(_.name == LakeTableIO.MetaPos)
      private val fileValue =
        org.apache.spark.unsafe.types.UTF8String
          .fromString(new Path(part.path).getName)
      // change-data-feed columns are synthesized like _file/_pos: the
      // file never carries them, the partition's annotation does
      private val ctIdx =
        part.cols.indexWhere(_.name == LakeTableIO.CdcChangeType)
      private val verIdx =
        part.cols.indexWhere(_.name == LakeTableIO.CdcVersion)
      private val ctValue = part.cdc.map(c =>
        org.apache.spark.unsafe.types.UTF8String.fromString(c.changeType))
        .orNull
      private val verValue: Long = part.cdc.map(_.version).getOrElse(-1L)
      private val requested: MessageType = {
        val kept = fileSchema.getFields.asScala
          .filter(t => filePos.contains(t.getName))
        new MessageType(fileSchema.getName, kept.asJava)
      }
      reader.setRequestedSchema(requested)
      private val requestedStruct = LakeParquet.toStructType(requested)
      private val dec = LakeParquet.decoders(requestedStruct, requested)
      // projection order may differ from file order: map file-projected
      // positions to output positions once; output slots no file column
      // maps to stay null (the back-fill)
      private val outIndex: Array[Int] =
        requestedStruct.fieldNames.map(filePos)
      // vintage upcast (ALTER COLUMN TYPE widening): a file written
      // before the promotion decodes in its own physical type; the
      // value converts losslessly to the table's current type here.
      // An unexpected physical/logical pair fails loud — widening is
      // the only metadata-only type change the catalog admits.
      private val convert: Array[Any => Any] =
        requestedStruct.fields.zipWithIndex.map { case (rf, i) =>
          import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
          if (outIndex(i) >= part.cols.length)
            identity[Any] _ // hidden eq-key column: compared raw,
              // never emitted (canonical key strings are equal across
              // the admitted widenings)
          else
          (rf.dataType, projected.fields(outIndex(i)).dataType) match {
            // sameType ignores NULLABILITY (nested containsNull /
            // valueContainsNull drift: a writer that proved its values
            // non-null wrote required leaves; reading them as the
            // table's nullable type is always safe) — everything else
            // (names, order, precision/scale) still compares strictly
            case (a, b) if LakeParquet.sameTypeIgnoreNullability(a, b) =>
              identity[Any] _
            case (IntegerType, LongType) => (v: Any) =>
              if (v == null) null else v.asInstanceOf[Int].toLong
            case (FloatType, DoubleType) => (v: Any) =>
              if (v == null) null else v.asInstanceOf[Float].toDouble
            case (a: org.apache.spark.sql.types.DecimalType,
                  b: org.apache.spark.sql.types.DecimalType)
                if a.scale == b.scale && b.precision >= a.precision =>
              // precision widening: same scale, identical value — via
              // BigDecimal, NOT toUnscaledLong, so wide (p > 18 FLBA)
              // vintages widen too instead of overflowing
              (v: Any) =>
                if (v == null) null
                else org.apache.spark.sql.types.Decimal(
                  v.asInstanceOf[org.apache.spark.sql.types.Decimal]
                    .toJavaBigDecimal, b.precision, b.scale)
            case (a, b) => throw new IllegalStateException(
              s"file ${part.path} column ${rf.name} is $a but the " +
                s"table expects $b — not a widening promotion")
          }
        }
      private val anyConvert =
        requestedStruct.fields.zipWithIndex.exists { case (rf, i) =>
          outIndex(i) < part.cols.length &&
          !LakeParquet.sameTypeIgnoreNullability(
            rf.dataType, projected.fields(outIndex(i)).dataType)
        }
      private val identityProjection =
        !anyConvert && part.eqFiles.isEmpty &&
          outIndex.length == part.cols.length &&
          outIndex.zipWithIndex.forall { case (o, i) => o == i }
      // equality-delete membership tests: per applicable sidecar, the
      // requested-struct positions of its key columns + the canonical
      // key set. A sidecar whose key column the FILE cannot resolve is
      // dropped — every row's key value there is null (the file
      // predates the column), and null never matches a non-null key.
      // Shared by BOTH test classes: part.eqFiles SUBTRACT matching
      // rows; the CDC annotation's onlyEqFiles EMIT only matching rows
      // (the pre-images an upsert epoch's refs tombstoned).
      private def eqTestsOf(names: Seq[String])
          : Array[(Array[Int], Set[String])] =
        if (names.isEmpty) Array.empty
        else {
          val reqPosByEval: Map[Int, Int] =
            outIndex.zipWithIndex.map { case (e, r) => e -> r }.toMap
          val tableDir = new Path(part.path).getParent.toString
          names.flatMap { name =>
            val (cols, keys) = LakeEq.cached(tableDir, name)
            val positions = cols.map { c =>
              val e = evalCols.indexWhere(_.name.equalsIgnoreCase(c))
              if (e < 0) -1 else reqPosByEval.getOrElse(e, -1)
            }
            if (positions.contains(-1)) None
            else Some((positions.toArray, keys))
          }.toArray
        }
      private val eqTests: Array[(Array[Int], Set[String])] =
        eqTestsOf(part.eqFiles)
      // CDC pre-image emit filter; when the flag is set but no test
      // resolved (the file predates every key column), NO row can
      // match a non-null key — emit nothing, never everything
      private val emitOnlyEq: Boolean =
        part.cdc.exists(_.onlyEqFiles.nonEmpty)
      private val onlyEqTests: Array[(Array[Int], Set[String])] =
        eqTestsOf(part.cdc.map(_.onlyEqFiles).getOrElse(Seq.empty))
      private def eqHit(tests: Array[(Array[Int], Set[String])],
                        inner: InternalRow): Boolean = {
        var i = 0
        while (i < tests.length) {
          val (pos, keys) = tests(i)
          val values = new Array[Any](pos.length)
          var j = 0
          var nullKey = false
          while (j < pos.length && !nullKey) {
            if (inner.isNullAt(pos(j))) nullKey = true
            else values(j) = inner.get(pos(j),
              requestedStruct.fields(pos(j)).dataType)
            j += 1
          }
          if (!nullKey && keys.contains(LakeEq.encodeKey(values.toSeq)))
            return true
          i += 1
        }
        false
      }
      // merge-on-read: the union of this file's deletion vectors,
      // restricted to this row group's position range, applied with an
      // advancing cursor (positions are sorted, the scan is sequential
      // — O(1) per row, no set lookups)
      private val groupStart: Long = reader.getFooter.getBlocks.asScala
        .take(part.rowGroup).map(_.getRowCount).sum
      private val deleted: Array[Long] =
        if (part.dvFiles.isEmpty) Array.empty
        else LakeDv.positions(
          new Path(part.path).getParent.toString, part.dvFiles)
      private var dvCursor = {
        var i = 0
        while (i < deleted.length && deleted(i) < groupStart) i += 1
        i
      }
      // CDC delete events: emit ONLY these (sorted) positions
      private val only: Array[Long] =
        part.cdc.flatMap(_.onlyPositions).orNull
      private var onlyCursor = {
        var i = 0
        if (only != null)
          while (i < only.length && only(i) < groupStart) i += 1
        i
      }
      private val footerBlock =
        reader.getFooter.getBlocks.get(part.rowGroup)
      private val groupEnd: Long = groupStart + footerBlock.getRowCount
      // positional reads go PAGE-LEVEL when the file carries a page
      // index: the sorted wanted positions map to their pages through
      // the offset index and only those pages are read and decoded —
      // a k-row delete pre-image against a million-row group reads the
      // k rows' pages, not the group. Files without an offset index
      // (foreign writers) fall back to the full-group read; the
      // row-index iterator below keeps `pos` exact either way.
      private val pages = {
        val full = only == null
        if (full) reader.readRowGroup(part.rowGroup)
        else {
          // readFilteredRowGroup consults EVERY column's offset index,
          // not just the one RowRanges was built from — a foreign file
          // indexed on column 0 but not on another projected column
          // would throw mid-read. Probe them all; any miss falls back
          // to the full-group read (r12 advice).
          def offsetIndex(ci: Int) =
            try reader.readOffsetIndex(footerBlock.getColumns.get(ci))
            catch { case _: java.io.IOException => null }
          val oi = offsetIndex(0)
          val allIndexed = oi != null &&
            (1 until footerBlock.getColumns.size)
              .forall(ci => offsetIndex(ci) != null)
          if (!allIndexed) reader.readRowGroup(part.rowGroup)
          else {
            val nPages = oi.getPageCount
            // group-relative wanted positions -> page ordinals
            def pageOf(rel: Long): Int = {
              var lo = 0; var hi = nPages - 1
              while (lo < hi) {
                val mid = (lo + hi + 1) >>> 1
                if (oi.getFirstRowIndex(mid) <= rel) lo = mid
                else hi = mid - 1
              }
              lo
            }
            val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
            var i = onlyCursor
            while (i < only.length && only(i) < groupEnd) {
              val p = pageOf(only(i) - groupStart)
              if (sel.isEmpty || sel.last != p) sel += p
              i += 1
            }
            LakeTableIO.pagesSelected.addAndGet(sel.length.toLong)
            LakeTableIO.pagesAvailable.addAndGet(nPages.toLong)
            val rr = org.apache.parquet.internal.filter2.columnindex
              .RowRanges.create(footerBlock.getRowCount,
                java.util.Arrays.stream(sel.toArray).iterator(), oi)
            // last-resort guard: a structurally odd foreign index that
            // survived the per-column probe still degrades to the
            // correct (if slower) full-group read, not a task failure
            try reader.readFilteredRowGroup(part.rowGroup, rr)
            catch { case scala.util.control.NonFatal(_) =>
              reader.readRowGroup(part.rowGroup) }
          }
        }
      }
      // FAST PATH for the hot scan (non-positional reads): flat
      // schemas decode COLUMN-BY-COLUMN straight off the page readers
      // — no per-row Group materialization, no record assembly; a
      // skipped row (merge-on-read DV) costs a value-skip, not a
      // decode. Positional (CDC) reads keep the record reader: a
      // FILTERED page store's columns can page-break at different
      // rows, and only record assembly re-aligns them. Exactly ONE of
      // the two consumes `pages` (PageReader is single-pass), so the
      // record reader is LAZY and untouched on the fast path.
      private val fastCols: Array[org.apache.parquet.column.ColumnReader] =
        if (only != null || !LakeParquet.isFlat(requestedStruct) ||
            "false" == System.getProperty("graft.lake.reader.fast")) null
        else {
          val crs = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
            pages, new GroupRecordConverter(requested).getRootConverter,
            requested, reader.getFooter.getFileMetaData.getCreatedBy)
          requested.getColumns.asScala.map(crs.getColumnReader).toArray
        }
      private val fastMaxDef: Array[Int] =
        if (fastCols == null) null
        else requested.getColumns.asScala
          .map(_.getMaxDefinitionLevel).toArray
      private val fastDec: Array[
          org.apache.parquet.column.ColumnReader => Any] =
        if (fastCols == null) null
        else LakeParquet.columnDecoders(requestedStruct, requested)
      /** Advance every column by one row; decode or value-skip. */
      private def fastAdvance(decode: Boolean): Array[Any] = {
        val vs = if (decode) new Array[Any](fastCols.length) else null
        var i = 0
        while (i < fastCols.length) {
          val cr = fastCols(i)
          if (cr.getCurrentDefinitionLevel == fastMaxDef(i)) {
            if (decode) vs(i) = fastDec(i)(cr) else cr.skip()
          }
          cr.consume()
          i += 1
        }
        vs
      }
      private lazy val recordReader = new ColumnIOFactory()
        .getColumnIO(requested)
        .getRecordReader(pages, new GroupRecordConverter(requested))
      private var remaining = pages.getRowCount
      // filtered page stores expose the surviving rows' GROUP-RELATIVE
      // indexes; tracking them keeps `pos` (and `_pos`) exact when
      // whole pages were skipped
      private val rowIdxIter: java.util.PrimitiveIterator.OfLong =
        pages.getRowIndexes().orElse(null)
      private var pos: Long = groupStart - 1
      private var current: InternalRow = _

      @annotation.tailrec
      final override def next(): Boolean =
        if (remaining <= 0) false
        else if (only != null && (onlyCursor >= only.length ||
            only(onlyCursor) >= groupEnd)) {
          // positional read: the next wanted position (sorted) lies
          // beyond this group — stop decoding the tail
          remaining = 0
          false
        } else {
          remaining -= 1
          pos =
            if (rowIdxIter != null) groupStart + rowIdxIter.nextLong()
            else pos + 1
          if (only != null) {
            // page-skips can jump `pos` past wanted cursors that were
            // never in a loaded page's range (only possible for
            // positions another event class consumed) — realign
            while (onlyCursor < only.length && only(onlyCursor) < pos)
              onlyCursor += 1
          }
          if (only != null && (onlyCursor >= only.length ||
              pos != only(onlyCursor))) {
            // CDC delete event: not one of the commit's DV'd positions
            recordReader.read()
            next()
          } else if (only == null &&
              dvCursor < deleted.length && deleted(dvCursor) == pos) {
            dvCursor += 1 // row deleted by a merge-on-read DML: skip
            if (fastCols != null) fastAdvance(decode = false)
            else recordReader.read() // escape-hatch path: consume too
            next()
          } else {
            if (only != null) onlyCursor += 1
            val inner: InternalRow =
              if (fastCols != null)
                new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(fastAdvance(decode = true))
              else LakeParquet.toInternalRow(recordReader.read(), dec)
            if (eqTests.nonEmpty && eqHit(eqTests, inner))
              next() // equality-deleted row: skip
            else if (emitOnlyEq && !eqHit(onlyEqTests, inner))
              next() // pre-image read: not one of the epoch's keys
            else {
            current =
              if (identityProjection) inner
              else {
                val values = new Array[Any](part.cols.length)
                var i = 0
                while (i < outIndex.length) {
                  if (outIndex(i) < part.cols.length) // hidden eq-key
                    values(outIndex(i)) = convert(i)( // cols never emit
                      inner.get(i, requestedStruct.fields(i).dataType))
                  i += 1
                }
                if (fileIdx >= 0) values(fileIdx) = fileValue
                if (posIdx >= 0) values(posIdx) = pos
                if (ctIdx >= 0) values(ctIdx) = ctValue
                if (verIdx >= 0) values(verIdx) = verValue
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
              }
            true
            }
          }
        }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}

/** One staged (not yet published) data file and, for partitioned
  * tables, the PARTITION TUPLE all its rows share (encoded slots in
  * spec order — see [[LakePartitioning]]).
  */
case class StagedLakeFile(stagedPath: String, rows: Long,
                          tuple: Option[Seq[String]] = None,
                          blooms: Map[String, String] = Map.empty,
                          // col → (exact sum, exact abs-sum) as decimal
                          // integer strings — see LakeStats.ColStats
                          sums: Map[String, (String, String)] = Map.empty,
                          // col → base64 KMV sketch — see LakeNdv
                          ndvs: Map[String, String] = Map.empty,
                          // string col → (total, max) UTF-8 byte
                          // lengths of non-null values
                          lens: Map[String, (String, String)] = Map.empty,
                          // col → base64 value reservoir — the CBO
                          // histogram fact (stats.histogram.columns)
                          hists: Map[String, String] = Map.empty)

/** Commit message: this task's staged files — one for an unpartitioned
  * write, one PER PARTITION TUPLE the task's rows touched for a
  * partitioned one (the writer splits; Spark's clustered distribution
  * keeps the per-task tuple count near one).
  */
case class LakeFileMessage(files: Seq[StagedLakeFile])
    extends WriterCommitMessage

/** Batch write: stage-then-publish, sealed by a [[LakeLog]] manifest
  * commit. With `replaceFiles` set (row-level op), the commit drops the
  * files the operation's scan covered from the new manifest — the
  * copy-on-write swap. Replaced files stay ON DISK (time travel /
  * rollback / CDC read them); [[LakeLog.expire]] reclaims them.
  */
/** How a batch write treats the EXISTING file set at commit. */
sealed trait LakeOverwrite
object LakeOverwrite {
  /** Plain append (or a row-level op's replace via `replaceFiles`). */
  case object Append extends LakeOverwrite
  /** Replace exactly the partitions the write produced tuples for. */
  case object Dynamic extends LakeOverwrite
  /** Replace the files fully covered by the filters (static partition
    * overwrite / truncate); fails loud when a filter splits a file.
    */
  final case class ByFilters(filters: Array[Filter]) extends LakeOverwrite
}

class LakeWrite(dir: String, writeSchema: StructType,
                replaceFiles: () => Seq[String],
                opName: String,
                branch: Option[String] = None,
                queryId: String = "",
                overwrite: LakeOverwrite = LakeOverwrite.Append,
                // the eq-ref set the row-level operation's plan
                // consumed (subtracted) — the commit guard requires
                // the CURRENT set to still equal it; empty for plain
                // appends/overwrites, where it degenerates to the
                // still-none check
                eqsAtPlan: () => Seq[LakeEq.EqRef] = () => Seq.empty)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** CHECK constraints visible when this write was PLANNED, as the
    * full name → text map the writer factory compiled enforcement for
    * (it reads the same props moments later). The commit re-reads and
    * fails loud if a constraint appeared OR was re-declared with new
    * text MID-WRITE: rows staged before the ALTER's validation query
    * ran would otherwise land unvalidated AND unenforced, silently
    * breaking the just-declared guarantee. The loser retries the whole
    * write under the new constraint set. Checked once before files
    * publish (cheap early abort keeps staged files out of the data
    * dir) and again INSIDE the log's commit retry loop immediately
    * before every publish attempt ([[LakeLog.commit]] `prePublish`) —
    * the early check alone is a TOCTOU across the version-race window.
    */
  private val checksAtPlan: Map[String, String] = LakeChecks.planSet(dir)

  private def requireNoNewChecks(): Unit =
    LakeChecks.requireUnchangedForWrite(dir, checksAtPlan)

  /** Partitioned tables ask Spark to CLUSTER incoming rows by the
    * partition transforms before the write (resolved through the
    * catalog's V2 functions) — so each task sees whole tuples and
    * writes ~one file per partition instead of every task writing a
    * sliver of every partition (tasks × partitions files). Purely an
    * efficiency contract: the writer splits by tuple per row either
    * way, so correctness never rides on the distribution.
    */
  /** The write sort order ([[LakeTableIO.SortColsKey]]) as connector
    * SortOrders: partition transforms first (rows group by tuple), then
    * the declared sort columns — empty when the property is unset.
    * Computed ONCE per write (lazy val): Spark consults it from both
    * requiredDistribution and requiredOrdering, and the knob cannot
    * change mid-write — no reason to re-read _props per call.
    */
  private lazy val declaredSortOrders
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val sortCols = LakeTableIO.sortColumnsOf(dir)
    if (sortCols.isEmpty) Array.empty
    else {
      val partOrders = LakePartitioning
        .toTransforms(LakePartitioning.specOf(dir))
        .map(t => Expressions.sort(t, SortDirection.ASCENDING))
      val colOrders = sortCols.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      (partOrders ++ colOrders).toArray
    }
  }

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    val spec = LakePartitioning.specOf(dir)
    val sorts = declaredSortOrders
    // a declared write sort order asks for an ORDERED (range)
    // distribution over (transforms, sort columns): files land
    // range-DISJOINT and internally sorted — the layout every pruning
    // layer (min/max stats, row groups, LIMIT/TopN bounding) exploits.
    // Purely an efficiency contract, like the clustered case below.
    if (sorts.nonEmpty) Distributions.ordered(sorts)
    else if (spec.isEmpty) Distributions.unspecified()
    else Distributions.clustered(LakePartitioning.toTransforms(spec)
      .map(t => t: org.apache.spark.sql.connector.expressions.Expression))
  }
  override def requiredNumPartitions(): Int = 0
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    declaredSortOrders

  /** Streaming flavor: each epoch publishes like a batch and seals a
    * manifest whose operation carries `(queryId, epochId)` — a replayed
    * epoch (driver restart re-running the last uncommitted batch) finds
    * its marker in the log and becomes a clean no-op, so the lake table
    * is an EXACTLY-ONCE streaming sink. Published-but-uncommitted files
    * of a crashed attempt are invisible orphans (in no manifest) that
    * the expire vacuum reclaims after its grace window.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      private def epochOp(epochId: Long) = LakeLog.epochOp(queryId, epochId)

      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
        new org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
          private val inner = new LakeWriterFactory(dir, writeSchema)
          override def createWriter(partitionId: Int, taskId: Long,
                                    epochId: Long): DataWriter[InternalRow] =
            inner.createWriter(partitionId, taskId)
        }

      override def commit(epochId: Long,
                          messages: Array[WriterCommitMessage]): Unit = {
        val fs = new Path(dir).getFileSystem(new Configuration())
        val collected = messages.collect {
          case LakeFileMessage(staged) => staged
        }.flatten
        // mid-write ADD CONSTRAINT: fail before publishing anything
        try requireNoNewChecks()
        catch { case e: Throwable =>
          collected.foreach(s =>
            try fs.delete(new Path(s.stagedPath), false)
            catch { case _: java.io.IOException => () })
          throw e
        }
        // replay check: the per-query epoch ref (O(1), survives expire)
        // backed by a newest-first marker scan that stops at this
        // query's previous epoch — not the old every-manifest sweep,
        // which was O(versions) PER EPOCH (quadratic over a stream's
        // life) and lost the marker to expire
        if (LakeLog.lastCommittedEpoch(dir, queryId, branch)
            .exists(epochId <= _)) {
          // this epoch's manifest is already sealed — drop the
          // re-staged files and report success (idempotent)
          collected.foreach(s => fs.delete(new Path(s.stagedPath), false))
          return
        }
        val published = collected.map { s =>
          val dest = new Path(dir, s"part-${UUID.randomUUID()}.parquet")
          if (!fs.rename(new Path(s.stagedPath), dest))
            throw new java.io.IOException(
              s"failed to publish ${s.stagedPath} -> $dest")
          (dest.getName, s)
        }
        try LakeLog.commit(dir, epochOp(epochId),
          published.map(_._1).toSeq, Seq.empty,
          published.map(_._2.rows).sum, branch = branch,
          addedParts = published.collect {
            case (n, s) if s.tuple.isDefined => n -> s.tuple.get
          }.toMap,
          addedBlooms = published.collect {
            case (n, s) if s.blooms.nonEmpty => n -> s.blooms
          }.toMap,
          addedSums = published.collect {
            case (n, s) if s.sums.nonEmpty => n -> s.sums
          }.toMap,
          addedNdvs = published.collect {
            case (n, s) if s.ndvs.nonEmpty => n -> s.ndvs
          }.toMap,
          addedLens = published.collect {
            case (n, s) if s.lens.nonEmpty => n -> s.lens
          }.toMap,
          addedHists = published.collect {
            case (n, s) if s.hists.nonEmpty => n -> s.hists
          }.toMap,
          prePublish = () => requireNoNewChecks())
        catch {
          case e: Throwable =>
            published.foreach { case (n, _) =>
              try fs.delete(new Path(dir, n), false)
              catch { case _: java.io.IOException => () }
            }
            throw e
        }
        // advance the ref AFTER (and outside) the commit: best-effort —
        // a crash or error between the two is covered by the marker
        // scan above, and expire keeps the newest uncovered marker per
        // query, so a failed ref write can never double-commit
        try LakeLog.recordCommittedEpoch(dir, queryId, epochId)
        catch { case _: Exception => () }
      }

      override def abort(epochId: Long,
                         messages: Array[WriterCommitMessage]): Unit = {
        val fs = new Path(dir).getFileSystem(new Configuration())
        messages.collect { case LakeFileMessage(staged) =>
          staged.foreach { s =>
            try fs.delete(new Path(s.stagedPath), false)
            catch { case _: java.io.IOException => () }
          }
        }
      }
    }
  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      new LakeWriterFactory(dir, writeSchema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(dir).getFileSystem(new Configuration())
      val collected = messages.collect {
        case LakeFileMessage(staged) => staged
      }.flatten
      // mid-write ADD CONSTRAINT: fail before publishing anything
      try requireNoNewChecks()
      catch { case e: Throwable =>
        collected.foreach(s =>
          try fs.delete(new Path(s.stagedPath), false)
          catch { case _: java.io.IOException => () })
        throw e
      }
      val published = collected.map { s =>
        val dest = new Path(dir, s"part-${UUID.randomUUID()}.parquet")
        if (!fs.rename(new Path(s.stagedPath), dest))
          throw new java.io.IOException(
            s"failed to publish ${s.stagedPath} -> $dest")
        (dest.getName, s)
      }
      // the replaced groups leave the MANIFEST only — their bytes remain
      // for time travel until an explicit expire. For overwrites the
      // replace set is computed against the CURRENT snapshot: dynamic
      // replaces the partitions this write produced, filter overwrite
      // the files its condition fully covers (fails loud when a filter
      // would split a file — that needs a rewrite, not an overwrite).
      // A file appended concurrently into an overwritten partition is
      // not in this head and survives (snapshot-isolation overwrite:
      // we replace what we could see; the commit still conflicts if a
      // covered file was itself rewritten).
      // a failure from here on (replace conflict, unaligned overwrite)
      // aborts the operation — the freshly-published UUID names are in
      // no manifest, so deleting them is safe and keeps the table dir
      // free of invisible orphans
      def cleanupPublished(): Unit =
        published.foreach { case (n, _) =>
          try fs.delete(new Path(dir, n), false)
          catch { case _: java.io.IOException => () }
        }
      // our own just-published names can appear in a raw dir listing
      // (unlogged-dir fallback) — never in the replace set
      val publishedNames = published.map(_._1).toSet
      def currentState
          : (Seq[String], Map[String, Seq[String]]) = {
        val head = LakeLog.current(dir, branch)
        (head.map(_.files).getOrElse(LakeLog.rawDataFiles(dir))
          .filterNot(publishedNames),
          head.map(_.parts).getOrElse(Map.empty))
      }
      val removed =
        try overwrite match {
          case LakeOverwrite.Append =>
            Option(replaceFiles).map(_().map(f =>
              new Path(f).getName)).getOrElse(Seq.empty)
          case LakeOverwrite.Dynamic =>
            val (cur, parts) = currentState
            // every current file must carry a CURRENT-SPEC tuple: a
            // tuple-less vintage or an old-spec layout has no defined
            // membership in the partitions being replaced
            val specCount = LakePartitioning.specsOf(dir).length
            val unmatched = cur.filterNot(f => parts.get(f).exists(t =>
              LakePartitioning.splitTuple(t)._1 == specCount - 1))
            require(unmatched.isEmpty,
              s"dynamic overwrite of $dir: current files without " +
                s"current-spec tuples (${unmatched.take(3).mkString(", ")}…)" +
                " cannot be matched to written partitions; CALL " +
                "system.compact first (it migrates old layouts to the " +
                "current spec)")
            val written = published.flatMap(_._2.tuple).toSet
            cur.filter(f => parts.get(f).exists(written.contains))
          case LakeOverwrite.ByFilters(filters)
              if filters.forall(_.isInstanceOf[
                org.apache.spark.sql.sources.AlwaysTrue]) =>
            currentState._1 // truncate: replace everything current
          case LakeOverwrite.ByFilters(filters) =>
            val (cur, parts) = currentState
            val specs = LakePartitioning.specsOf(dir)
            require(specs.nonEmpty && specs.last.nonEmpty,
              s"filter overwrite of unpartitioned $dir: only a full " +
                "INSERT OVERWRITE (truncate) is partition-aligned there")
            LakePartitioning.overwriteCoverage(cur, parts,
              LakePartitioning.bindAll(specs,
                LakeTableIO.tableSchema(dir)),
              filters) match {
              case Right(rm) => rm
              case Left(msg) =>
                throw new UnsupportedOperationException(
                  s"graft_lake overwrite of $dir: $msg")
            }
        } catch { case e: Throwable => cleanupPublished(); throw e }
      try LakeLog.commit(dir, opName, published.map(_._1).toSeq, removed,
        published.map(_._2.rows).sum, branch = branch,
        addedParts = published.collect {
          case (n, s) if s.tuple.isDefined => n -> s.tuple.get
        }.toMap,
        addedBlooms = published.collect {
          case (n, s) if s.blooms.nonEmpty => n -> s.blooms
        }.toMap,
        addedSums = published.collect {
          case (n, s) if s.sums.nonEmpty => n -> s.sums
        }.toMap,
        addedNdvs = published.collect {
          case (n, s) if s.ndvs.nonEmpty => n -> s.ndvs
        }.toMap,
        addedLens = published.collect {
          case (n, s) if s.lens.nonEmpty => n -> s.lens
        }.toMap,
        addedHists = published.collect {
          case (n, s) if s.hists.nonEmpty => n -> s.hists
        }.toMap,
        prePublish = () => {
          requireNoNewChecks()
          // copy-on-write DML materializes existing rows into fresh
          // files — an eq ref committed mid-operation would be
          // detached from them while the plan's scan never subtracted
          // it (the TOCTOU twin); the plan-time ref set must still be
          // the CURRENT one. Plain appends/overwrites write only NEW
          // data and skip it.
          if (replaceFiles != null)
            LakeEq.requireUnchanged(dir, branch, eqsAtPlan(), opName)
        })
      catch {
        case e: Throwable => cleanupPublished(); throw e
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(dir).getFileSystem(new Configuration())
      messages.collect { case LakeFileMessage(staged) =>
        staged.foreach(s => fs.delete(new Path(s.stagedPath), false))
      }
    }
  }
}

class LakeWriterFactory(dir: String, schema: StructType)
    extends DataWriterFactory {
  /** The write schema with the TABLE's field-id metadata grafted on by
    * name: Spark's LogicalWriteInfo schema is the query's output shape
    * and does not carry connector metadata, so the ids that give
    * columns identity across renames are re-attached from the sidecar
    * here — every published file then carries them in its footer.
    * Resolved once on the driver (the factory is constructed there and
    * serialized to tasks).
    */
  private val idSchema: StructType =
    try {
      val byName = LakeTableIO.tableSchema(dir).fields
        .map(f => f.name -> f.metadata).toMap
      StructType(schema.fields.map(f =>
        byName.get(f.name).fold(f)(m => f.copy(metadata = m))))
    } catch { case _: Exception => schema } // schema-less dir: as-is

  /** Hidden-partitioning spec bound against the write schema — resolved
    * on the driver; empty for unpartitioned tables. A partitioned
    * table's writer SPLITS rows by tuple below, so file/tuple
    * association is computed from the rows themselves and never
    * depends on upstream distribution.
    *
    * LAZY because a delta writer for a pure DELETE has an EMPTY row
    * schema (it only emits positions) — the spec binds on first actual
    * row write, where a missing source column is a real error. New
    * writes always use the CURRENT spec; the tuple records its id so
    * evolution leaves every vintage self-describing.
    */
  private lazy val (bound: Seq[LakePartitioning.Bound], specId: Int) = {
    val specs = LakePartitioning.specsOf(dir)
    if (specs.isEmpty || specs.last.isEmpty) (Seq.empty, 0)
    else (LakePartitioning.bind(specs.last, idSchema), specs.length - 1)
  }

  /** Bloom-indexed columns present in THIS write's schema, resolved
    * ONCE at factory construction on the driver (the factory
    * serializes to executors): (name, type, schema ordinal). A delta
    * writer whose sub-schema omits a configured column simply builds
    * no bloom for it (its files stay conservatively kept).
    */
  private val bloomCols: Seq[(String, org.apache.spark.sql.types.DataType,
      Int)] =
    try LakeBloom.configured(dir).flatMap { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0 || !LakeBloom.admits(schema.fields(i).dataType)) None
      else Some((schema.fields(i).name, schema.fields(i).dataType, i))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Exact-numeric columns whose per-file sums are harvested as rows
    * stream through (zero extra read I/O — same contract as blooms):
    * these are the facts that make metadata-only SUM/AVG answerable.
    * Always on for admissible types; the cost is one exact integer add
    * per (row, numeric column), noise against parquet encoding.
    */
  private val sumCols: Seq[(String, org.apache.spark.sql.types.DataType,
      Int)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if LakeStats.sumAdmits(f.dataType) =>
        (f.name, f.dataType, i)
    }.toSeq

  /** NDV-sketched columns present in this write's schema (opt-in via
    * stats.ndv.columns — the bloom.columns resolution pattern).
    */
  private val ndvCols: Seq[(String, org.apache.spark.sql.types.DataType,
      Int)] =
    try LakeNdv.configured(dir).flatMap { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0 || !LakeNdv.admits(schema.fields(i).dataType)) None
      else Some((schema.fields(i).name, schema.fields(i).dataType, i))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Histogram-sampled columns present in this write's schema (opt-in
    * via stats.histogram.columns — the stats.ndv.columns pattern):
    * a bounded value reservoir per (file, column), O(1) per row.
    */
  private val histCols: Seq[(String, org.apache.spark.sql.types.DataType,
      Int)] =
    try LakeHist.configured(dir).flatMap { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0 || !LakeHist.admits(schema.fields(i).dataType)) None
      else Some((schema.fields(i).name, schema.fields(i).dataType, i))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** String columns — always-on (total, max) UTF-8 byte-length
    * harvesting (two integer ops per row; completes the CBO
    * ColumnStatistics report's avgLen/maxLen fields).
    */
  private val lenCols: Seq[(String, Int)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == org.apache.spark.sql.types.StringType =>
        (f.name, i)
    }.toSeq

  /** CHECK constraints resolved against this write's schema on the
    * driver (the factory is constructed there); every row-writing path
    * funnels through this factory, so per-row enforcement in write()
    * IS the table-wide guarantee. A constraint that fails to RESOLVE
    * here (e.g. the delta writer's empty pure-DELETE row schema, which
    * writes no rows) is kept as a poison entry that fails the FIRST
    * row loud — silent un-enforcement is never an option.
    */
  private val checkViolations: Seq[(String, Either[String,
      org.apache.spark.sql.catalyst.expressions.Expression])] = {
    // STRICT read: a torn/unreadable properties file fails the write
    // loud (retryable) — a lenient empty default would silently
    // un-enforce a declared guarantee
    val texts = LakeChecks.configuredStrict(dir)
    if (texts.isEmpty) Seq.empty
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      texts.map { case (name, text) =>
        name -> (try Right(LakeChecks.violationExpr(
          spark, schema, name, text))
        catch {
          case scala.util.control.NonFatal(e) =>
            Left(s"check constraint '$name' ($text) cannot be " +
              s"enforced on this write: ${e.getMessage}")
        })
      }
    }
  }

  // writer knobs, resolved ONCE at factory construction on the driver
  // (validated at CREATE/ALTER; see [[LakeTableIO.CompressionKey]] /
  // [[LakeTableIO.TargetFileBytesKey]])
  private val codec: CompressionCodecName =
    try LakeTableIO.codecOf(dir)
    catch { case scala.util.control.NonFatal(_) =>
      CompressionCodecName.SNAPPY }
  private val targetFileBytes: Long =
    try LakeTableIO.targetFileBytesOf(dir)
    catch { case scala.util.control.NonFatal(_) => 0L }

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val message = LakeParquet.toMessageType(idSchema)
      private val enc = LakeParquet.encoders(idSchema)

      /** One staged parquet file (per partition tuple; a single slot
        * for unpartitioned writes).
        */
      private final class OneFile(val tuple: Option[Seq[String]]) {
        // one builder per bloom column, fed as rows stream through —
        // zero extra read I/O (the 100 TB way to build an index)
        val blooms: Array[LakeBloom.Builder] =
          Array.fill(bloomCols.length)(new LakeBloom.Builder())
        // exact (sum, abs-sum) accumulators per exact-numeric column
        val sums: Array[LakeStats.ExactSum] =
          Array.fill(sumCols.length)(new LakeStats.ExactSum)
        val asums: Array[LakeStats.ExactSum] =
          Array.fill(sumCols.length)(new LakeStats.ExactSum)
        // one KMV distinct-count sketch per configured NDV column
        val ndvs: Array[LakeNdv.Builder] =
          Array.fill(ndvCols.length)(new LakeNdv.Builder())
        // (total, max) byte lengths per string column
        val tlens: Array[Long] = new Array[Long](lenCols.length)
        val mlens: Array[Int] = new Array[Int](lenCols.length)
        // one value reservoir per configured histogram column
        val hists: Array[LakeHist.Builder] =
          Array.fill(histCols.length)(new LakeHist.Builder)
        val staged = new Path(
          s"$dir/_staging/t$taskId-p$partitionId-${UUID.randomUUID()}")
        var rows = 0L
        lazy val writer = {
          val fs = staged.getFileSystem(new Configuration())
          fs.mkdirs(staged.getParent)
          ExampleParquetWriter
            .builder(HadoopOutputFile.fromPath(staged, new Configuration()))
            .withType(message)
            .withCompressionCodec(codec)
            .withRowGroupSize(LakeTableIO.rowGroupBytes)
            .withPageRowCountLimit(LakeTableIO.pageRowLimit)
            .build()
        }
        def close(delete: Boolean): Unit = if (rows > 0 || delete) {
          try writer.close() catch { case _: java.io.IOException => () }
          if (delete)
            staged.getFileSystem(new Configuration()).delete(staged, false)
        }
      }
      // compiled CHECK predicates, one set per observed row offset
      // (a leading __row_operation column shifts every ordinal by one);
      // a poison (unresolvable) constraint throws at the FIRST row
      private val compiledChecks = mutable.Map.empty[Int,
        Seq[(String, org.apache.spark.sql.catalyst.expressions.BasePredicate)]]
      private def checksFor(off: Int) =
        compiledChecks.getOrElseUpdate(off, checkViolations.map {
          case (name, Right(e)) =>
            val shifted =
              if (off == 0) e
              else e.transform {
                case b: org.apache.spark.sql.catalyst.expressions.BoundReference =>
                  b.copy(ordinal = b.ordinal + off)
              }
            name -> LakeChecks.compile(shifted)
          case (_, Left(msg)) =>
            throw new IllegalStateException(s"graft_lake: $msg")
        })

      private val open = mutable.LinkedHashMap.empty[Seq[String], OneFile]
      // files SEALED by the roll target mid-write (closed, rows > 0) —
      // they commit alongside the still-open tail files
      private val rolled = mutable.ArrayBuffer.empty[OneFile]
      private def fileFor(row: InternalRow, off: Int): OneFile =
        if (bound.isEmpty)
          open.getOrElseUpdate(Nil, new OneFile(None))
        else {
          val tuple = LakePartitioning.versionedTuple(specId,
            LakePartitioning.encodeTuple(bound.map(_.evalRow(row, off))))
          open.getOrElseUpdate(tuple, new OneFile(Some(tuple)))
        }
      /** Roll `f` when it passed the size target: seal it (its
        * per-file facts seal with it) and let the next row open a
        * fresh file for the tuple. Size probed every 256 rows —
        * getDataSize sums the column buffers, too hot per row.
        */
      private def maybeRoll(f: OneFile): Unit =
        if (targetFileBytes > 0 && (f.rows & 0xffL) == 0L &&
            f.writer.getDataSize >= targetFileBytes) {
          f.close(delete = false)
          rolled += f
          open.remove(f.tuple.getOrElse(Nil))
        }

      override def write(row: InternalRow): Unit = {
        // ReplaceData (the MERGE rewrite) hands rows with a leading
        // __row_operation INT that Spark only strips for connectors
        // declaring metadata attributes (ReplaceDataExec.writingTask
        // falls back to the unprojected DataWritingSparkTask when
        // metadataProjection is None) — detect the layout once and read
        // data fields at the offset. Op values 5 (WRITE) and 6
        // (WRITE_WITH_METADATA, carry-over) both mean "write this row";
        // anything else cannot appear in a group-based rewrite.
        val off = row.numFields - schema.length
        require(off == 0 || off == 1,
          s"row width ${row.numFields} vs write schema ${schema.length}")
        if (off == 1) {
          val op = row.getInt(0)
          require(op == 5 || op == 6,
            s"unexpected __row_operation $op in group-based write")
        }
        // CHECK enforcement: a violating row fails the WRITE (task
        // abort → staged files dropped, nothing published)
        if (checkViolations.nonEmpty) {
          val preds = checksFor(off)
          var ci = 0
          while (ci < preds.length) {
            if (preds(ci)._2.eval(row))
              throw new IllegalArgumentException(
                s"graft_lake: check constraint '${preds(ci)._1}' " +
                  s"violated by a written row in $dir")
            ci += 1
          }
        }
        val f = fileFor(row, off)
        f.writer.write(LakeParquet.toGroup(row, message, enc, off))
        var b = 0
        while (b < bloomCols.length) {
          val (_, dt, ord) = bloomCols(b)
          if (!row.isNullAt(ord + off))
            LakeBloom.hashInternal(dt, row, ord + off)
              .foreach(f.blooms(b).add)
          b += 1
        }
        var sc = 0
        while (sc < sumCols.length) {
          val (_, dt, ord) = sumCols(sc)
          if (!row.isNullAt(ord + off)) dt match {
            case org.apache.spark.sql.types.IntegerType =>
              val v = row.getInt(ord + off).toLong
              f.sums(sc).add(v); f.asums(sc).add(math.abs(v))
            case org.apache.spark.sql.types.LongType =>
              val v = row.getLong(ord + off)
              f.sums(sc).add(v)
              // |Long.MinValue| overflows the long fast path
              if (v == Long.MinValue)
                f.asums(sc).add(java.math.BigInteger.valueOf(v).abs())
              else f.asums(sc).add(math.abs(v))
            case d: org.apache.spark.sql.types.DecimalType =>
              val dec = row.getDecimal(ord + off, d.precision, d.scale)
              if (d.precision <= 18) {
                val u = dec.toUnscaledLong
                f.sums(sc).add(u)
                if (u == Long.MinValue)
                  f.asums(sc).add(java.math.BigInteger.valueOf(u).abs())
                else f.asums(sc).add(math.abs(u))
              } else {
                val u = dec.toJavaBigDecimal.unscaledValue()
                f.sums(sc).add(u); f.asums(sc).add(u.abs())
              }
            case _ => () // sumAdmits admits nothing else
          }
          sc += 1
        }
        var nv = 0
        while (nv < ndvCols.length) {
          val (_, dt, ord) = ndvCols(nv)
          if (!row.isNullAt(ord + off))
            LakeNdv.hash64(dt, row, ord + off).foreach(f.ndvs(nv).add)
          nv += 1
        }
        var lc = 0
        while (lc < lenCols.length) {
          val ord = lenCols(lc)._2 + off
          if (!row.isNullAt(ord)) {
            val n = row.getUTF8String(ord).numBytes()
            f.tlens(lc) += n
            if (n > f.mlens(lc)) f.mlens(lc) = n
          }
          lc += 1
        }
        var hc = 0
        while (hc < histCols.length) {
          val (_, dt, ord) = histCols(hc)
          if (!row.isNullAt(ord + off))
            f.hists(hc).add(LakeHist.toDouble(dt, row, ord + off))
          hc += 1
        }
        f.rows += 1
        maybeRoll(f)
      }
      override def commit(): WriterCommitMessage = {
        val sealedStaged = rolled.toSeq.map { f =>
          StagedLakeFile(f.staged.toString, f.rows, f.tuple,
            bloomCols.indices
              .map(i => bloomCols(i)._1 -> f.blooms(i).toBase64).toMap,
            sumCols.indices.map(i => sumCols(i)._1 ->
              (f.sums(i).toDecimalString,
                f.asums(i).toDecimalString)).toMap,
            ndvCols.indices
              .map(i => ndvCols(i)._1 -> f.ndvs(i).toBase64).toMap,
            lenCols.indices.map(i => lenCols(i)._1 ->
              (f.tlens(i).toString, f.mlens(i).toString)).toMap,
            histCols.indices
              .map(i => histCols(i)._1 -> f.hists(i).toBase64).toMap)
        }
        val staged = sealedStaged ++ open.values.toSeq.flatMap { f =>
          if (f.rows > 0) {
            f.close(delete = false)
            Some(StagedLakeFile(f.staged.toString, f.rows, f.tuple,
              bloomCols.indices
                .map(i => bloomCols(i)._1 -> f.blooms(i).toBase64).toMap,
              sumCols.indices.map(i => sumCols(i)._1 ->
                (f.sums(i).toDecimalString,
                  f.asums(i).toDecimalString)).toMap,
              ndvCols.indices
                .map(i => ndvCols(i)._1 -> f.ndvs(i).toBase64).toMap,
              lenCols.indices.map(i => lenCols(i)._1 ->
                (f.tlens(i).toString, f.mlens(i).toString)).toMap,
              histCols.indices
                .map(i => histCols(i)._1 -> f.hists(i).toBase64).toMap))
          } else { f.close(delete = true); None }
        }
        LakeFileMessage(staged)
      }
      override def abort(): Unit = {
        open.values.foreach(_.close(delete = true))
        // rolled files are already closed; delete their staged bytes
        rolled.foreach(f =>
          try f.staged.getFileSystem(new Configuration())
            .delete(f.staged, false)
          catch { case _: java.io.IOException => () })
      }
      override def close(): Unit = ()
    }
}

object LakeTableIO {
  /** `write.compression` — the writer's parquet codec (zstd | snappy |
    * gzip; default snappy). Per-FILE, footer-recorded: mixed-codec
    * vintages always read together (every reader consults the footer),
    * so flipping the knob needs no rewrite.
    */
  val CompressionKey = "write.compression"

  /** `write.target-file-bytes` — the writer ROLLS to a new staged file
    * once the current one's buffered+written size passes this target
    * (per (task, partition-tuple) stream; manifest facts — blooms,
    * sums, sketches, lengths — restart per rolled file because they
    * are per-file facts). Unset = one file per (task, tuple), the
    * historical shape. Compaction keeps its own target.
    */
  val TargetFileBytesKey = "write.target-file-bytes"

  private val codecs = Map(
    "snappy" -> CompressionCodecName.SNAPPY,
    "zstd" -> CompressionCodecName.ZSTD,
    "gzip" -> CompressionCodecName.GZIP)

  def validateCompression(v: String): Unit =
    require(codecs.contains(v.toLowerCase),
      s"graft_lake: $CompressionKey must be one of " +
        s"${codecs.keys.toSeq.sorted.mkString(", ")}, got '$v'")

  def validateTargetFileBytes(v: String): Unit =
    require(v.toLongOption.exists(_ >= (1L << 20)),
      s"graft_lake: $TargetFileBytesKey must be an integer >= 1048576 " +
        s"(1 MiB — smaller targets shred the table), got '$v'")

  /** The writer codec for `dir` (validated at CREATE/ALTER; an
    * unparseable stray value falls back to the default rather than
    * failing a write).
    */
  def codecOf(dir: String): CompressionCodecName =
    tableProps(dir).get(CompressionKey)
      .flatMap(v => codecs.get(v.toLowerCase))
      .getOrElse(CompressionCodecName.SNAPPY)

  /** The roll target for `dir`; 0 = never roll. */
  def targetFileBytesOf(dir: String): Long =
    tableProps(dir).get(TargetFileBytesKey)
      .flatMap(_.toLongOption).filter(_ > 0).getOrElse(0L)

  /** Writer row-group size — settable (bytes) so fixtures can force a
    * multi-row-group layout at test scale; production default 128 MB.
    */
  @volatile var rowGroupBytes: Long = 128L << 20

  /** Writer page-row ceiling — settable so fixtures can force a
    * many-page layout at test scale (page-level positional reads);
    * production default is parquet-mr's own (20k rows / 1 MB pages).
    */
  def pageRowLimit: Int =
    sys.props.get("graft.lake.page.row.limit").map(_.toInt)
      .getOrElse(org.apache.parquet.column.ParquetProperties
        .DEFAULT_PAGE_ROW_COUNT_LIMIT)

  /** Test instrumentation for page-level positional reads: (pages
    * selected, pages available) across CDC delete-event scans.
    */
  val pagesSelected = new java.util.concurrent.atomic.AtomicLong()
  val pagesAvailable = new java.util.concurrent.atomic.AtomicLong()

  /** Reserved METADATA column names (Iceberg's `_file`/`_pos`):
    * synthesized per row by the reader — the data file's name and the
    * file-relative row position. They are the ROW IDENTITY the
    * merge-on-read delta operation keys its deletion vectors on, and
    * are queryable directly (`SELECT _file, _pos FROM t`).
    */
  val MetaFile = "_file"
  val MetaPos = "_pos"

  /** Reserved change-data-feed column names (Delta CDF's spelling),
    * synthesized by the reader from each partition's [[LakeCdcInfo]]
    * when reading through the `changes` metadata table.
    */
  val CdcChangeType = "_change_type"
  val CdcVersion = "_commit_version"

  val metadataFields: Seq[StructField] = Seq(
    StructField(MetaFile, org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField(MetaPos, org.apache.spark.sql.types.LongType,
      nullable = false))

  /** Current data files: resolved through the snapshot log when the
    * table is logged (so expired-from-manifest files are invisible even
    * though their bytes remain), else a raw directory listing (legacy /
    * externally-populated dirs). Pass `version` to read a PINNED
    * snapshot — the time-travel path.
    */
  def dataFiles(dir: String, version: Option[Long] = None,
                branch: Option[String] = None): Seq[Path] =
    dataFilesAndDvs(dir, version, branch)._1

  /** (data files, deletion-vector map) of a snapshot — the pair every
    * scan needs: the files to read and, per file, the DV sidecars
    * whose positions the reader subtracts.
    */
  def dataFilesAndDvs(dir: String, version: Option[Long] = None,
                      branch: Option[String] = None)
      : (Seq[Path], Map[String, Seq[String]]) = {
    val v = snapshotView(dir, version, branch)
    (v._1, v._2)
  }

  /** Everything planning consumes, bundled: files, DV map, per-file
    * stats, per-file partition tuples.
    */
  type SnapView = (Seq[Path], Map[String, Seq[String]],
    Map[String, LakeStats.FileStats], Map[String, Seq[String]])

  /** (data files, DV map, manifest stats) of a snapshot — everything
    * planning consumes: the files to read, per-file deletion vectors,
    * and the per-file column stats that prune files without footer
    * reads (see [[LakeStats]]).
    *
    * HEAD reads additionally union the staged files of any DECIDED
    * multi-table transaction whose per-table applies have not all
    * landed yet ([[LakeTx.pendingFor]]) — catalog-owned atomic
    * visibility: a plain `SELECT` sees a transaction in every
    * participant table from the instant its one marker rename lands,
    * never the half-applied middle. Pinned (`VERSION AS OF`) and
    * branch reads resolve manifests alone — a version id names a
    * manifest's exact state, and pending appends are not a version
    * until applied.
    */
  def snapshotView(dir: String, version: Option[Long] = None,
                   branch: Option[String] = None): SnapView =
    snapshotViewEq(dir, version, branch)._1

  /** [[snapshotView]] PLUS the same snapshot's live eq refs — ONE
    * manifest read, so the refs judged and the files judged can never
    * come from different versions (a ref committed between two reads
    * would be checked against nothing — the r15 scoped fast paths and
    * inventories all consume this, never two separate reads).
    */
  def snapshotViewEq(dir: String, version: Option[Long] = None,
                     branch: Option[String] = None)
      : (SnapView, Seq[LakeEq.EqRef]) = {
    // pending decided-tx files union into head reads (atomic
    // cross-table visibility, see [[snapshotView]]); they carry no stats,
    // so every eq-aware consumer reads them as ATTACHED → declines/
    // NULLs conservatively under live refs
    def withPending(files: Seq[String]): Seq[Path] = {
      val pending = LakeTx.pendingFor(dir).flatMap(_.added)
      (if (pending.isEmpty) files
       else (files ++ pending).distinct.sorted).map(new Path(dir, _))
    }
    version match {
      case Some(v) =>
        val s = LakeLog.snapshotAt(dir, v, branch)
        ((s.files.map(new Path(dir, _)), s.dvs, s.stats, s.parts), s.eqs)
      case None =>
        LakeLog.current(dir, branch) match {
          case Some(s) if branch.isEmpty =>
            ((withPending(s.files), s.dvs, s.stats, s.parts), s.eqs)
          case Some(s) =>
            ((s.files.map(new Path(dir, _)), s.dvs, s.stats, s.parts),
              s.eqs)
          case None if branch.isDefined =>
            throw new IllegalStateException(
              s"branch '${branch.get}' does not exist in $dir")
          case None =>
            ((withPending(LakeLog.rawDataFiles(dir).toSeq), Map.empty,
              Map.empty, Map.empty), Seq.empty)
        }
    }
  }

  /** Write `df` through the CONNECTOR's writer (field-id footers; on
    * partitioned tables rows split per tuple) into `dir/_staging`,
    * returning the staged files with their tuples — the building block
    * transactional staging and layout-migrating maintenance share.
    * The caller publishes (rename + manifest) or abandons (vacuum
    * reclaims _staging leftovers).
    */
  def stageThroughConnector(df: org.apache.spark.sql.DataFrame,
                            dir: String): Seq[StagedLakeFile] = {
    val factory = new LakeWriterFactory(dir, df.schema)
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val w = factory.createWriter(pid,
        org.apache.spark.TaskContext.get().taskAttemptId())
      var ok = false
      try {
        it.foreach(w.write)
        val m = w.commit().asInstanceOf[LakeFileMessage]
        ok = true
        Iterator.single(m.files)
      } finally if (!ok) w.abort()
    }.collect().toSeq.flatten
  }

  /** Exact row count of `files` from parquet footers alone — metadata,
    * no data read. Compaction's row-preservation check runs on this.
    */
  def footerRows(files: Seq[Path]): Long = {
    val conf = new Configuration()
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRowGroups.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
  }

  /** The planned scan: surviving (file, row group) partitions, the total
    * group count, and footer-derived statistics of the KEPT groups —
    * exact row count, and uncompressed bytes of only the PROJECTED
    * column chunks (so pruning a wide table to two columns reports two
    * columns' bytes, and Catalyst's broadcast decision sees the real
    * post-pushdown size).
    */
  final case class ScanPlan(parts: Array[InputPartition], totalGroups: Int,
                            keptRows: Long, keptBytes: Long,
                            statsPrunedFiles: Int = 0,
                            boundPrunedGroups: Int = 0)

  /** Column-resolution refs for a (projected) schema: output name,
    * field id from metadata, and the name-candidate chain legacy files
    * resolve by.
    */
  def columnRefs(schema: StructType): Array[LakeColumnRef] =
    schema.fields.map(f => LakeColumnRef(f.name,
      LakeParquet.fieldId(f).getOrElse(-1),
      (f.name +: LakeParquet.priorNames(f)).toArray))

  /** Resolve a table column to THIS file's column name. A file carrying
    * field ids resolves STRICTLY by id — never by name, so a
    * dropped-then-re-added name cannot resurrect the old column's
    * values; an id-less legacy file walks the candidates (current name
    * first, then prior names, so renames keep resolving). None =
    * absent from the file (readers back-fill null, planners keep
    * groups conservatively).
    */
  def resolveInFile(fileSchema: org.apache.parquet.schema.MessageType,
                    ref: LakeColumnRef): Option[String] = {
    val fields = fileSchema.getFields.asScala
    val fileHasIds = fields.exists(_.getId != null)
    if (fileHasIds && ref.id >= 0)
      fields.find(t => t.getId != null && t.getId.intValue() == ref.id)
        .map(_.getName)
    else
      ref.candidates.iterator
        .flatMap(n => fields.find(_.getName == n)).map(_.getName)
        .nextOption()
  }

  /** Rewrite a prunable filter's column to a file-local name (stats
    * live under the FILE's name for a renamed column).
    */
  private def retarget(f: Filter, to: String): Filter = f match {
    case EqualTo(_, v)            => EqualTo(to, v)
    case GreaterThan(_, v)        => GreaterThan(to, v)
    case GreaterThanOrEqual(_, v) => GreaterThanOrEqual(to, v)
    case LessThan(_, v)           => LessThan(to, v)
    case LessThanOrEqual(_, v)    => LessThanOrEqual(to, v)
    case org.apache.spark.sql.sources.In(_, vs) =>
      org.apache.spark.sql.sources.In(to, vs)
    case org.apache.spark.sql.sources.IsNull(_) =>
      org.apache.spark.sql.sources.IsNull(to)
    case org.apache.spark.sql.sources.IsNotNull(_) =>
      org.apache.spark.sql.sources.IsNotNull(to)
    case org.apache.spark.sql.sources.EqualNullSafe(_, v) =>
      org.apache.spark.sql.sources.EqualNullSafe(to, v)
    case other                    => other
  }

  /** Every prunable filter type MUST be listed here: a filter whose
    * column is not surfaced bypasses field-id resolution and consults
    * footer stats by raw table name — after a drop-and-re-add, an
    * id-stamped file's STALE same-named column would be judged (e.g.
    * IsNull against the old column's nulls==0 wrongly prunes groups
    * whose rows back-fill null for the current column).
    */
  private def filterColumn(f: Filter): Option[String] = f match {
    case EqualTo(c, _)            => Some(c)
    case GreaterThan(c, _)        => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _)           => Some(c)
    case LessThanOrEqual(c, _)    => Some(c)
    case org.apache.spark.sql.sources.In(c, _)      => Some(c)
    case org.apache.spark.sql.sources.IsNull(c)     => Some(c)
    case org.apache.spark.sql.sources.IsNotNull(c)  => Some(c)
    case org.apache.spark.sql.sources.EqualNullSafe(c, _) => Some(c)
    case _                        => None
  }

  /** One input partition per row group of `files` surviving footer-stats
    * pruning. Driver-side metadata work shared by the batch scan, the
    * row-level-operation scan, and the streaming source. Filters are
    * translated to each file's LOCAL column names (field-id / prior-
    * name resolution) before consulting its stats; a filter on a
    * column the file lacks keeps the group (absent = all-null, and the
    * re-applied residual filter decides exactly).
    */
  def planRowGroups(files: Seq[Path], cols: Array[LakeColumnRef],
                    pushed: Array[Filter], pruneGroups: Boolean,
                    dvs: Map[String, Seq[String]] = Map.empty,
                    stats: Map[String, LakeStats.FileStats] = Map.empty,
                    onlyPositions: Option[Array[Long]] = None,
                    bound: Option[LakeLimits.ScanBound] = None)
      : ScanPlan = {
    val conf = new Configuration()
    val refByName = cols.map(r => r.name -> r).toMap
    // one file's plan contribution: its surviving splits + counters —
    // independent footer I/O, computed in PARALLEL below (bounded
    // pool) and folded back in file order so the plan is deterministic.
    // `facts` (1:1 with parts) carry each group's bounding view when a
    // pushed LIMIT/TopN is in play — the footer is already open, so the
    // group layer of [[LakeLimits]] costs zero extra I/O.
    final case class FilePlan(parts: Seq[InputPartition], total: Int,
                              rows: Long, bytes: Long,
                              statsPruned: Boolean,
                              facts: Seq[LakeLimits.GroupFact] = Seq.empty)
    val bounding = bound.exists(!_.isEmpty)
    def planFile(file: Path): FilePlan = {
      val parts = mutable.ArrayBuffer.empty[InputPartition]
      val facts = mutable.ArrayBuffer.empty[LakeLimits.GroupFact]
      var total = 0
      var rows = 0L
      var bytes = 0L
      var statsPruned0 = 0
      val fileDvs = dvs.getOrElse(file.getName, Seq.empty)
      // manifest-stats FILE pruning first: a file the pushed predicate
      // provably excludes is skipped without opening its footer — the
      // O(files)→O(matching files) planning step that keeps a selective
      // query's plan cost independent of table size. Files without
      // manifest stats (legacy vintages) fall through to the footer.
      val fileStats = stats.get(file.getName)
      val statsPruned = pruneGroups && pushed.nonEmpty &&
        fileStats.exists(st => !LakeStats.mightMatchFile(st, cols, pushed))
      if (statsPruned) {
        total += fileStats.get.groups
        statsPruned0 += 1
      } else {
        LakeStats.noteFooterOpen()
        val in = HadoopInputFile.fromPath(file, conf)
        val reader = ParquetFileReader.open(in)
        try {
          val fileSchema = reader.getFooter.getFileMetaData.getSchema
          // table-name -> file-local-name for the projected columns
          val local: Map[String, String] = cols.flatMap(ref =>
            resolveInFile(fileSchema, ref).map(ref.name -> _)).toMap
          val localFilters = pushed.flatMap { f =>
            filterColumn(f) match {
              case Some(c) if refByName.contains(c) =>
                local.get(c).map(retarget(f, _)) // absent column: no prune
              case _ => Some(f)
            }
          }
          val localNames = local.values.toSet
          // a deleted row can still satisfy footer stats — with DVs on
          // the file, stats narrowing stays valid (conservative: a group
          // is only dropped when NO physical row matches, deleted or not)
          val blocks = reader.getRowGroups.asScala.toSeq
          total += blocks.size
          // stats: subtract this file's deleted-row count once (spread
          // across groups is unknowable from metadata; the estimate only
          // feeds join-size planning). The sorted position array also
          // gives the bounding layer EXACT per-group dead counts.
          val dvPos: Array[Long] =
            if (fileDvs.isEmpty) Array.empty
            else LakeDv.positions(file.getParent.toString, fileDvs)
          val dvCount = dvPos.length.toLong
          // group-bounding resolution: the sort column's file-local name
          // and stats kind (None = column absent/unharvestable in this
          // file — its groups are kept and vouch nothing)
          val topNLocal: Option[(String, String)] =
            bound.flatMap(_.topN).flatMap { case (_, ref) =>
              resolveInFile(fileSchema, ref).flatMap { localName =>
                fileSchema.getFields.asScala
                  .find(f => f.isPrimitive && f.getName == localName)
                  .flatMap(f => LakeStats.kindOf(f.asPrimitiveType()))
                  .map(localName -> _)
              }
            }
          var fileKeptRows = 0L
          // positional reads (CDC delete / update-preimage events) only
          // touch row groups whose row range intersects the sorted
          // position set — a k-row delete against a thousand-group file
          // plans the k rows' groups, not the file (positions are
          // file-relative, so the cumulative row offset is the range)
          var groupStart = 0L
          blocks.zipWithIndex.foreach { case (block, idx) =>
            val gStart = groupStart // this group's file-relative range
            val groupEnd = groupStart + block.getRowCount
            val positionHit = onlyPositions.forall { ps =>
              val i = java.util.Arrays.binarySearch(ps, gStart)
              val at = if (i >= 0) i else -i - 1
              at < ps.length && ps(at) < groupEnd
            }
            groupStart = groupEnd
            val keep = positionHit && (!pruneGroups ||
              localFilters.forall(f => mightMatch(block, f)))
            if (keep) {
              parts += LakeInputPartition(file.toString, idx, cols, fileDvs)
              fileKeptRows += block.getRowCount
              val groupBytes = block.getColumns.asScala
                .filter(c => localNames.contains(c.getPath.toDotString))
                .map(_.getTotalUncompressedSize).sum
              bytes += groupBytes
              if (bounding) {
                // exact live rows: DV positions inside this group's
                // file-relative row range (sorted distinct → insertion
                // points count exactly)
                def ip(x: Long): Int = {
                  val i = java.util.Arrays.binarySearch(dvPos, x)
                  if (i >= 0) i else -i - 1
                }
                val dead = (ip(groupEnd) - ip(gStart)).toLong
                val gRows = block.getRowCount
                val cs = topNLocal.flatMap { case (localName, kind) =>
                  LakeStats.mergeBlocks(Seq(block), localName, kind, gRows)
                }
                // prover lower bounds hold for EVERY split of the dead
                // rows between nulls and values (worst case each side)
                val (pn, pv) = cs match {
                  case Some(c) if c.nulls >= 0 =>
                    (math.max(0L, c.nulls - dead),
                      math.max(0L, gRows - c.nulls - dead))
                  case _ => (0L, 0L)
                }
                facts += LakeLimits.GroupFact(
                  LakeLimits.TopNUnit(gRows, cs, pn, pv),
                  math.max(0L, gRows - dead), groupBytes)
              }
            }
          }
          rows += math.max(0L, fileKeptRows - dvCount)
        } finally reader.close()
      }
      FilePlan(parts.toSeq, total, rows, bytes, statsPruned0 > 0,
        facts.toSeq)
    }
    val perFile: Seq[FilePlan] =
      if (files.size < 4) files.map(planFile)
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(
          Future.traverse(files.toList)(f => Future(planFile(f))),
          Duration.Inf)
      }
    val allParts = perFile.flatMap(_.parts).toIndexedSeq
    val allFacts = perFile.flatMap(_.facts).toIndexedSeq
    // ROW-GROUP bounding (the second granularity of [[LakeLimits]]):
    // the file layer already bounded the manifest; here the survivors'
    // own footer stats trim groups a pushed TopN provably cannot need
    // (one giant sorted post-compaction file plans its head groups, not
    // all of them) and a pushed LIMIT stops at exact live coverage.
    if (!bounding || allFacts.size != allParts.size)
      ScanPlan(allParts.toArray, perFile.map(_.total).sum,
        perFile.map(_.rows).sum, perFile.map(_.bytes).sum,
        perFile.count(_.statsPruned))
    else {
      val topMask: IndexedSeq[Boolean] = bound.get.topN match {
        case Some((t, _)) =>
          LakeLimits.topNKeepMask(allFacts.map(_.unit), t)
        case None => allParts.map(_ => true)
      }
      val afterTop = allParts.zip(allFacts).zip(topMask)
        .collect { case (pf, true) => pf }
      val limMask: IndexedSeq[Boolean] = bound.get.limit match {
        case Some(n) => LakeLimits.limitMask(afterTop.map(_._2.live), n)
        case None    => afterTop.map(_ => true)
      }
      val kept = afterTop.zip(limMask).collect { case (pf, true) => pf }
      ScanPlan(kept.map(_._1).toArray, perFile.map(_.total).sum,
        kept.map(_._2.live).sum, kept.map(_._2.bytes).sum,
        perFile.count(_.statsPruned),
        boundPrunedGroups = allParts.size - kept.size)
    }
  }

  /** Evaluate a global aggregation from manifest metadata alone, or
    * None when any expression is not PROVABLY answerable:
    *
    *   - `COUNT(*)`: Σ (file rows − its deletion-vector size); rows
    *     come from manifest stats, with a footer read only for
    *     stat-less legacy vintages — still metadata, never data.
    *   - `COUNT(col)` (non-distinct): needs ZERO deletion vectors (a
    *     DV'd row changes the null split unobservably) and a known
    *     null count for the column in EVERY file.
    *   - `MIN(col)` / `MAX(col)`: additionally needs usable bounds in
    *     every file (or the file provably all-null) and an exactly
    *     order-preserving kind: long/int/string (unsigned-UTF-8 order
    *     — identical to UTF8String's), DATE (int days), and DECIMAL
    *     with precision ≤ 18 (`dec:<scale>` stats over the INT64
    *     unscaled value — exact integer order). Floating point never
    *     pushes (NaN ordering); TIMESTAMP stays unharvested by design.
    *
    * Returned values are Spark INTERNAL format (Long/Int/UTF8String,
    * null for empty/all-null), paired with their output type.
    */
  /** The snapshot's live equality-delete refs ([[LakeEq]]). No log =
    * no eqs; any other read failure propagates (callers pick their own
    * conservative direction: metadata paths decline, scans fail loud —
    * swallowing here would default to "no deletes", the one direction
    * that resurrects rows).
    */
  def snapshotEqs(dir: String, version: Option[Long] = None,
                  branch: Option[String] = None): Seq[LakeEq.EqRef] =
    version match {
      case Some(v) => LakeLog.snapshotAt(dir, v, branch).eqs
      case None =>
        LakeLog.current(dir, branch).map(_.eqs).getOrElse(Seq.empty)
    }

  /** Snapshot view restricted to the files matching CONSUMED pushed
    * filters: each file is tuple-judged EXACTLY. None when any file is
    * undecided (no tuple / unresolvable layout): the metadata answer
    * declines and the row scan takes over (whose own loud guard
    * covers the consumed-filter premise).
    */
  private def filteredView(
      dir: String, version: Option[Long], branch: Option[String],
      tableSchema: StructType, pushed: Array[Filter])
      : Option[SnapView] = {
    // live equality deletes make every physical fact (counts, bounds,
    // sums, live-row arithmetic) potentially stale for the files they
    // APPLY to — but a ref that provably attaches to NONE of the
    // answering file set (sequencing + key statistics + partition
    // tuples, the scan's own scope) cannot stale anything: the fast
    // paths survive upserts whose epochs were pure inserts or touched
    // other partitions/key ranges. Any uncertainty (missing stats,
    // unknown add version) reads as "attached" — decline, never guess.
    // eqs and the view come from ONE snapshot read, so the refs are
    // judged against exactly the files they came with
    val (v, eqs) =
      try snapshotViewEq(dir, version, branch)
      catch { case scala.util.control.NonFatal(_) => return None }
    lazy val eqCols = columnRefs(tableSchema)
    def eqClean(files: Seq[Path],
                stats: Map[String, LakeStats.FileStats],
                parts: Map[String, Seq[String]]): Boolean =
      eqs.isEmpty || !files.exists(f => LakeEq.attachedTo(dir, eqs,
        f.getName, stats, parts, eqCols, tableSchema))
    if (pushed.isEmpty)
      return if (eqClean(v._1, v._3, v._4)) Some(v) else None
    val (files, dvs, stats, parts) = v
    val specs =
      try LakePartitioning.bindAll(
        LakePartitioning.specsOf(dir), tableSchema)
      catch { case _: Exception => return None }
    if (specs.isEmpty ||
        !LakePartitioning.allDecided(files, parts, specs)) return None
    val (kept, _) = LakePartitioning.prune(files, parts, specs, pushed)
    // the eq scope is judged on the KEPT set: a file the exactly-
    // enforced partition filters exclude feeds no rows, so a ref
    // attached to it cannot stale this answer
    if (!eqClean(kept, stats, parts)) return None
    val names = kept.map(_.getName).toSet
    // restrict the per-file maps too: an excluded file's deletion
    // vectors must not block the DV-free answerability rules
    Some((kept, dvs.filter { case (k, _) => names(k) },
      stats.filter { case (k, _) => names(k) },
      parts.filter { case (k, _) => names(k) }))
  }

  def metaAggregate(
      dir: String, tableSchema: StructType,
      exprs: Seq[org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc],
      version: Option[Long], branch: Option[String],
      pushed: Array[Filter] = Array.empty,
      // stats-PROVEN consumed filters: no file restriction (every row
      // matches), but the proof is re-verified against THIS call's
      // snapshot below — decline on any file it can't vouch for
      proven: Array[Filter] = Array.empty)
      : Option[Seq[(org.apache.spark.sql.types.DataType, Any)]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType}
    val (files, dvs, stats, _) =
      filteredView(dir, version, branch, tableSchema, pushed)
        .getOrElse(return None)
    if (proven.nonEmpty) {
      val refs0 = columnRefs(tableSchema)
      if (!files.forall(p => stats.get(p.getName).exists(st =>
          LakeStats.mustMatchFile(st, refs0, proven))))
        return None
    }
    val refs = columnRefs(tableSchema).map(r => r.name -> r).toMap
    def colName(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }
    // expected stats kind + output conversion per Spark type — the
    // shared [[statKindFor]]/[[decodeStat]] rules (DECIMAL included)
    def kindFor(t: org.apache.spark.sql.types.DataType): Option[String] =
      statKindFor(t)
    def decode(kind: String, t: org.apache.spark.sql.types.DataType,
               s: String): Any = decodeStat(kind, t, s)
    // (rows, ColStats) per file; None when ANY file lacks a resolvable
    // stats entry for the column — an absent entry is ambiguous between
    // "file predates the column" (all-null, answerable) and "bounds
    // were unharvestable" (e.g. oversized strings — NOT answerable), so
    // the only sound move is to decline
    def colStatsAll(name: String)
        : Option[Seq[(Long, LakeStats.ColStats)]] = {
      val ref = refs.getOrElse(name, return None)
      val per = files.map { f =>
        val st = stats.getOrElse(f.getName, return None)
        val hasIds = st.cols.values.exists(_.id >= 0)
        val cs =
          if (hasIds && ref.id >= 0) st.cols.values.find(_.id == ref.id)
          else ref.candidates.iterator.flatMap(st.cols.get).nextOption()
        (st.rows, cs.getOrElse(return None))
      }
      Some(per)
    }
    val values = exprs.map {
      case _: CountStar =>
        val n = files.map { f =>
          val rows = stats.get(f.getName).map(_.rows)
            .getOrElse(footerRows(Seq(f)))
          val dead = dvs.get(f.getName)
            .map(LakeDv.positions(dir, _).length.toLong).getOrElse(0L)
          math.max(0L, rows - dead)
        }.sum
        (LongType, java.lang.Long.valueOf(n))
      case c: Count if !c.isDistinct && dvs.isEmpty =>
        val name = colName(c.column).getOrElse(return None)
        val per = colStatsAll(name).getOrElse(return None)
        if (per.exists(_._2.nulls < 0)) return None // unknown null count
        val nonNull = per.map { case (rows, cs) => rows - cs.nulls }.sum
        (LongType, java.lang.Long.valueOf(nonNull))
      case m: Min if dvs.isEmpty =>
        metaExtreme(colName(m.column), colStatsAll, kindFor, decode,
          tableSchema, isMin = true).getOrElse(return None)
      case m: Max if dvs.isEmpty =>
        metaExtreme(colName(m.column), colStatsAll, kindFor, decode,
          tableSchema, isMin = false).getOrElse(return None)
      // SUM / AVG from writer-harvested exact per-file sums — same
      // zero-DV rule (a DV'd row's contribution is unknowable)
      case s: org.apache.spark.sql.connector.expressions.aggregate.Sum
          if !s.isDistinct && dvs.isEmpty =>
        metaSum(colName(s.column), colStatsAll, tableSchema,
          wantAvg = false).getOrElse(return None)
      case a: org.apache.spark.sql.connector.expressions.aggregate.Avg
          if !a.isDistinct && dvs.isEmpty =>
        metaSum(colName(a.column), colStatsAll, tableSchema,
          wantAvg = true).getOrElse(return None)
      case _ => return None
    }
    Some(values)
  }

  /** Per-partition COUNT(*) / MIN / MAX answered from the manifest
    * alone — the grouped flavor of [[metaAggregate]] (a fast path even
    * Delta and Iceberg's Spark integrations skip). Answerable when:
    *
    *   - every GROUP BY expression is a single column that an IDENTITY
    *     transform of the CURRENT spec partitions on (identity makes
    *     tuple membership exactly the group membership);
    *   - every aggregate is `COUNT(*)`, or a MIN/MAX over a column
    *     whose per-file manifest stats are usable in EVERY file (kind
    *     matches the logical type, field-id resolved) — per-file
    *     min/max folded within each tuple group is exactly the group
    *     extremum;
    *   - every file carries a current-spec tuple AND a manifest row
    *     count (live counts = rows − its DV positions, exact);
    *   - for MIN/MAX additionally ZERO deletion vectors exist (a DV'd
    *     row could be the extremum — same rule as the global path) and
    *     the column is not floating-point (NaN ordering).
    *
    * A group whose files net ZERO live rows is dropped (SQL: no rows,
    * no group). Null source values group under the null tuple slot —
    * exactly SQL's null group; a group provably all-null in a MIN/MAX
    * column yields SQL NULL. Returns (output schema: groupBy columns
    * then aggregates, rows in internal form).
    */
  def groupedMetaAggregate(
      dir: String, tableSchema: StructType,
      groupBy: Seq[org.apache.spark.sql.connector.expressions.Expression],
      exprs: Seq[org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc],
      version: Option[Long], branch: Option[String],
      pushed: Array[Filter] = Array.empty,
      proven: Array[Filter] = Array.empty)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.LongType
    val specs = LakePartitioning.specsOf(dir)
    if (specs.isEmpty || specs.last.isEmpty) return None
    val bound =
      try LakePartitioning.bind(specs.last, tableSchema)
      catch { case _: Exception => return None }
    // each groupBy column -> the identity transform's slot index
    val slotIdx: Seq[(String, Int,
        org.apache.spark.sql.types.DataType)] = groupBy.map {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames()(0)
        val i = bound.indexWhere(b =>
          b.t.isInstanceOf[LakePartitioning.PIdentity] &&
            b.t.col.equalsIgnoreCase(c))
        if (i < 0) return None
        (c, i, bound(i).outType)
      case _ => return None
    }
    val (files, dvs, stats, parts) =
      filteredView(dir, version, branch, tableSchema, pushed)
        .getOrElse(return None)
    if (proven.nonEmpty) {
      val refs0 = columnRefs(tableSchema)
      if (!files.forall(p => stats.get(p.getName).exists(st =>
          LakeStats.mustMatchFile(st, refs0, proven))))
        return None
    }
    val refs = columnRefs(tableSchema).map(r => r.name -> r).toMap
    def colName(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    def extremeOf(e: org.apache.spark.sql.connector.expressions.Expression,
                  isMin: Boolean)
        : Option[(LakeColumnRef, org.apache.spark.sql.types.DataType,
            String, Boolean)] = {
      val name = colName(e).getOrElse(return None)
      val t = tableSchema.fields.find(_.name == name)
        .map(_.dataType).getOrElse(return None)
      val kind = statKindFor(t).getOrElse(return None)
      Some((refs.getOrElse(name, return None), t, kind, isMin))
    }
    // resolve a column's stats entry in one file (strict: id-first)
    def colStatsIn(st: LakeStats.FileStats, ref: LakeColumnRef)
        : Option[LakeStats.ColStats] = {
      val hasIds = st.cols.values.exists(_.id >= 0)
      if (hasIds && ref.id >= 0) st.cols.values.find(_.id == ref.id)
      else ref.candidates.iterator.flatMap(st.cols.get).nextOption()
    }
    // parsed aggregate slots. COUNT(col) and MIN/MAX require ZERO
    // deletion vectors: a DV'd row's null-ness / extremum membership
    // is unknowable from metadata (COUNT(*) stays DV-exact — DV sizes
    // are exact live-row corrections).
    sealed trait GA
    case object GStar extends GA
    final case class GCnt(ref: LakeColumnRef) extends GA
    final case class GExt(ref: LakeColumnRef,
                          t: org.apache.spark.sql.types.DataType,
                          kind: String, isMin: Boolean) extends GA
    // SUM/AVG from writer-harvested exact per-file sums; the
    // no-overflow guards apply PER GROUP at fold time (the row scan's
    // per-group fold only ever sees that group's rows)
    final case class GSum(ref: LakeColumnRef,
                          t: org.apache.spark.sql.types.DataType,
                          kind: String, isAvg: Boolean) extends GA
    def sumSlot(
        e: org.apache.spark.sql.connector.expressions.Expression,
        isAvg: Boolean): Option[GSum] = {
      import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}
      val name = colName(e).getOrElse(return None)
      val t = tableSchema.fields.find(_.name == name)
        .map(_.dataType).getOrElse(return None)
      val integral = t == IntegerType || t == LongType
      if (!integral && !t.isInstanceOf[DecimalType]) return None
      if (isAvg && !integral) return None // decimal divide: decline
      val kind = statKindFor(t).getOrElse(return None)
      Some(GSum(refs.getOrElse(name, return None), t, kind, isAvg))
    }
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, Sum}
    val gaggs: Seq[(GA, String)] = exprs.zipWithIndex.map {
      case (_: CountStar, i) => (GStar, s"count_$i")
      case (c: Count, i) if !c.isDistinct && dvs.isEmpty =>
        val name = colName(c.column).getOrElse(return None)
        (GCnt(refs.getOrElse(name, return None)), s"count_$i")
      case (m: Min, i) if dvs.isEmpty =>
        val e = extremeOf(m.column, isMin = true).getOrElse(return None)
        (GExt(e._1, e._2, e._3, e._4), s"min_$i")
      case (m: Max, i) if dvs.isEmpty =>
        val e = extremeOf(m.column, isMin = false).getOrElse(return None)
        (GExt(e._1, e._2, e._3, e._4), s"max_$i")
      case (s: Sum, i) if !s.isDistinct && dvs.isEmpty =>
        (sumSlot(s.column, isAvg = false).getOrElse(return None),
          s"sum_$i")
      case (a: Avg, i) if !a.isDistinct && dvs.isEmpty =>
        (sumSlot(a.column, isAvg = true).getOrElse(return None),
          s"avg_$i")
      case _ => return None
    }
    val currentId = specs.length - 1
    // per file: tuple key, live rows, and one contribution per agg
    // slot (Long for counts, Option[String] bound for extremes — None
    // = provably all-null here; any unprovable case declines the push)
    val perFile = files.map { f =>
      val tuple = parts.getOrElse(f.getName, return None)
      val (id, slots) = LakePartitioning.splitTuple(tuple)
      if (id != currentId || slots.length != bound.length) return None
      val st = stats.getOrElse(f.getName,
        return None) // stat-less vintage: not provable
      val dead = dvs.get(f.getName)
        .map(LakeDv.positions(dir, _).length.toLong).getOrElse(0L)
      val contribs: Seq[Any] = gaggs.map {
        case (GStar, _) =>
          java.lang.Long.valueOf(math.max(0L, st.rows - dead))
        case (GCnt(ref), _) =>
          val cs = colStatsIn(st, ref).getOrElse(return None)
          if (cs.nulls < 0) return None // unknown null count
          java.lang.Long.valueOf(st.rows - cs.nulls)
        case (GExt(ref, _, kind, isMin), _) =>
          val cs = colStatsIn(st, ref).getOrElse(return None)
          if (cs.min.isDefined && cs.max.isDefined) {
            if (cs.kind != kind) return None // physical/logical mismatch
            Some(if (isMin) cs.min.get else cs.max.get)
          } else if (cs.nulls == st.rows) None // provably all-null
          else return None // cannot prove the extremum
        case (GSum(ref, _, kind, _), _) =>
          val cs = colStatsIn(st, ref).getOrElse(return None)
          if (cs.kind != kind) return None // physical/logical mismatch
          if (cs.nulls < 0) return None    // unknown null split
          (new java.math.BigInteger(cs.sum.getOrElse(return None)),
            new java.math.BigInteger(cs.asum.getOrElse(return None)),
            st.rows - cs.nulls)
      }
      (slotIdx.map { case (_, i, _) => slots(i) },
        math.max(0L, st.rows - dead), contribs)
    }
    val rows = perFile.groupBy(_._1).toSeq
      .map { case (key, fs0) =>
        val agg: Seq[Any] = gaggs.zipWithIndex.map {
          case ((GStar | GCnt(_), _), ai) =>
            java.lang.Long.valueOf(fs0.map(
              _._3(ai).asInstanceOf[java.lang.Long].longValue()).sum)
          case ((GExt(_, t, kind, isMin), _), ai) =>
            val bs = fs0.flatMap(
              _._3(ai).asInstanceOf[Option[String]])
            if (bs.isEmpty) null // group all-null: SQL NULL
            else decodeStat(kind, t, bs.reduce((a, b) =>
              if ((LakeStats.cmpSame(kind, a, b) <= 0) == isMin) a
              else b))
          case ((GSum(_, t, _, isAvg), _), ai) =>
            import org.apache.spark.sql.types.DecimalType
            var total = java.math.BigInteger.ZERO
            var atotal = java.math.BigInteger.ZERO
            var nonNull = 0L
            fs0.foreach { f =>
              val (s, a, nn) = f._3(ai).asInstanceOf[
                (java.math.BigInteger, java.math.BigInteger, Long)]
              total = total.add(s); atotal = atotal.add(a); nonNull += nn
            }
            if (nonNull == 0L) null // group all-null: SQL NULL
            else if (isAvg) {
              if (atotal.compareTo(DoubleExactAbs) > 0) return None
              java.lang.Double.valueOf(
                total.doubleValue() / nonNull.toDouble)
            } else t match {
              case d: DecimalType =>
                val outP = math.min(38, d.precision + 10)
                if (atotal.toString.length > outP) return None
                org.apache.spark.sql.types.Decimal(
                  new java.math.BigDecimal(total, d.scale), outP, d.scale)
              case _ =>
                if (atotal.compareTo(java.math.BigInteger
                    .valueOf(Long.MaxValue)) > 0) return None
                java.lang.Long.valueOf(total.longValueExact())
            }
        }
        (key, fs0.map(_._2).sum, agg)
      }
      .filter(_._2 > 0) // zero live rows: the group does not exist
      .sortBy(_._1.mkString(" "))
      .map { case (key, _, agg) =>
        slotIdx.zip(key).map { case ((_, i, _), slot) =>
          LakePartitioning.decodeSlot(bound(i), slot)
            .getOrElse(return None)
        } ++ agg
      }
    val schema0 = slotIdx.zipWithIndex.foldLeft(new StructType()) {
      case (st, ((c, _, t), _)) => st.add(c, t, nullable = true)
    }
    val schema = gaggs.foldLeft(schema0) {
      case (st, (GStar, nm))   => st.add(nm, LongType, nullable = false)
      case (st, (GCnt(_), nm)) => st.add(nm, LongType, nullable = false)
      case (st, (GExt(_, t, _, _), nm)) => st.add(nm, t, nullable = true)
      case (st, (GSum(_, t, _, isAvg), nm)) =>
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val out =
          if (isAvg) DoubleType
          else t match {
            case d: DecimalType =>
              DecimalType(math.min(38, d.precision + 10), d.scale)
            case _ => LongType
          }
        st.add(nm, out, nullable = true)
    }
    Some((schema, rows))
  }

  /** Manifest-stats kind expected for a logical type on the metadata
    * fast paths (floating point never qualifies: NaN ordering diverges
    * between engines and parquet stats).
    */
  private[dsv2] def statKindFor(
      t: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType}
    t match {
      case LongType    => Some("long")
      case IntegerType => Some("int")
      case DateType    => Some("int") // internal = days since epoch
      case StringType  => Some("str")
      // any precision: narrow (INT64) and wide (FLBA) both harvest as
      // dec:<scale> with the unscaled integer's decimal string —
      // integer order IS numeric order at one scale
      case d: org.apache.spark.sql.types.DecimalType =>
        Some("dec:" + d.scale)
      case _           => None
    }
  }

  /** Decode a manifest-stats bound into Spark's INTERNAL value form. */
  private[dsv2] def decodeStat(kind: String,
                         t: org.apache.spark.sql.types.DataType,
                         s: String): Any = kind match {
    case "long" => java.lang.Long.valueOf(s.toLong)
    case "int"  => java.lang.Integer.valueOf(s.toInt)
    case "str"  => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case k if k.startsWith("dec:") =>
      val d = t.asInstanceOf[org.apache.spark.sql.types.DecimalType]
      // BigInteger path covers wide (p > 18) unscaled values; narrow
      // stats are plain long strings and parse identically
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(new java.math.BigInteger(s), d.scale),
        d.precision, d.scale)
    case _      => null
  }

  private def metaExtreme(
      name0: Option[String],
      colStatsAll: String => Option[Seq[(Long, LakeStats.ColStats)]],
      kindFor: org.apache.spark.sql.types.DataType => Option[String],
      decode: (String, org.apache.spark.sql.types.DataType, String) => Any,
      tableSchema: StructType, isMin: Boolean)
      : Option[(org.apache.spark.sql.types.DataType, Any)] = {
    val name = name0.getOrElse(return None)
    val t = tableSchema.fields.find(_.name == name)
      .map(_.dataType).getOrElse(return None)
    val kind = kindFor(t).getOrElse(return None)
    val per = colStatsAll(name).getOrElse(return None)
    // every file: usable bounds of the right kind, or PROVABLY all-null
    // (null count known and equal to the file's rows — harvest only
    // omits bounds for all-null or unharvestable columns, and the
    // unharvestable case never reaches here: it has no stats entry and
    // colStatsAll declined above... except the all-null-proven path,
    // which mergeBlocks emits with bounds absent)
    val bounds = per.flatMap { case (rows, cs) =>
      if (cs.min.isDefined && cs.max.isDefined) {
        if (cs.kind != kind) return None // physical/logical mismatch
        Seq(if (isMin) cs.min.get else cs.max.get)
      } else if (cs.nulls == rows) Seq.empty // provably all-null
      else return None // cannot prove the extremum
    }
    val v =
      if (bounds.isEmpty) null // empty or all-null table: SQL NULL
      else decode(kind, t, bounds.reduce((a, b) =>
        if ((LakeStats.cmpSame(kind, a, b) <= 0) == isMin) a else b))
    Some((t, v))
  }

  /** Largest double-exact integer (2⁵³): below it in absolute-sum, a
    * double accumulation of integers is EXACT in any fold order — the
    * region where a metadata AVG can claim the row scan's answer.
    */
  private val DoubleExactAbs =
    java.math.BigInteger.valueOf(1L << 53)

  /** Metadata-only SUM / AVG over writer-harvested exact per-file sums
    * ([[LakeStats.ColStats.sum]]/`asum`). Strict answerability, all
    * checked per file: kind matches the table type, known null count,
    * and a sum entry present (files from external writers, compaction
    * rewrites, or pre-sum vintages lack one — decline, never guess).
    * The ABSOLUTE sum bounds every partial sum ANY fold order could
    * form, so the no-overflow proofs below hold for the row scan Spark
    * would otherwise run — inside them ANSI and legacy modes agree
    * exactly, outside them the push declines and the scan's own
    * semantics (error vs wrap/null) apply:
    *
    *   - SUM(int/long) → LongType; requires Σ|v| ≤ Long.MaxValue.
    *   - SUM(dec(p,s)) → DecimalType(min(38,p+10), s) (Spark's result
    *     type); requires Σ|unscaled| to fit that precision.
    *   - AVG(int/long) → DoubleType = exactSum / count; requires
    *     Σ|v| ≤ 2⁵³, where double accumulation of integers is exact
    *     (every partial is an integer below the mantissa limit) and so
    *     equals the exact integer sum. AVG over decimal declines —
    *     Spark's decimal divide rounding is not worth re-implementing
    *     to claim exactness.
    *
    * SQL null semantics: sums ignore nulls; zero non-null rows → NULL.
    */
  private def metaSum(
      name0: Option[String],
      colStatsAll: String => Option[Seq[(Long, LakeStats.ColStats)]],
      tableSchema: StructType, wantAvg: Boolean)
      : Option[(org.apache.spark.sql.types.DataType, Any)] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
    val name = name0.getOrElse(return None)
    val t = tableSchema.fields.find(_.name == name)
      .map(_.dataType).getOrElse(return None)
    val kind = statKindFor(t).getOrElse(return None)
    val integral = t == IntegerType || t == LongType
    if (!integral && !t.isInstanceOf[DecimalType]) return None
    if (wantAvg && !integral) return None // decimal divide: decline
    val per = colStatsAll(name).getOrElse(return None)
    var total = java.math.BigInteger.ZERO
    var atotal = java.math.BigInteger.ZERO
    var nonNull = 0L
    per.foreach { case (rows, cs) =>
      if (cs.kind != kind) return None // physical/logical mismatch
      if (cs.nulls < 0) return None    // unknown null split
      val s = cs.sum.getOrElse(return None)
      val a = cs.asum.getOrElse(return None)
      total = total.add(new java.math.BigInteger(s))
      atotal = atotal.add(new java.math.BigInteger(a))
      nonNull += rows - cs.nulls
    }
    val outType = (t, wantAvg) match {
      case (_, true)             => DoubleType
      case (d: DecimalType, _)   =>
        DecimalType(math.min(38, d.precision + 10), d.scale)
      case _                     => LongType
    }
    if (nonNull == 0L) return Some((outType, null)) // SQL NULL
    if (wantAvg) {
      if (atotal.compareTo(DoubleExactAbs) > 0) return None
      Some((DoubleType, java.lang.Double.valueOf(
        total.doubleValue() / nonNull.toDouble)))
    } else if (integral) {
      if (atotal.compareTo(
          java.math.BigInteger.valueOf(Long.MaxValue)) > 0) return None
      Some((LongType, java.lang.Long.valueOf(total.longValueExact())))
    } else {
      val d = outType.asInstanceOf[DecimalType]
      // digits of the abs bound must fit the result precision (a
      // partial can't have more digits than the abs-sum's)
      if (atotal.toString.length > d.precision) return None
      Some((d, org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(total, d.scale), d.precision, d.scale)))
    }
  }

  /** Plan ONE commit's change events ([[LakeCdcInfo]]-annotated
    * partitions) for the `changes` metadata table / CDC stream:
    *
    *   - `initialSnapshot`: the version's complete LIVE state (files
    *     minus its deletion vectors) as insert events — the
    *     snapshot-then-increments opening batch on an expiry-trimmed
    *     log, or a backfill's starting floor;
    *   - append commit: its added files as insert events (no DVs — a
    *     later delete is a later EVENT, not a retroactive edit);
    *   - merge-on-read commit: the positions its deletion vectors
    *     removed as delete events (pre-images read straight from the
    *     still-on-disk files), plus added files as insert events — the
    *     commit class the append-only stream must reject becomes fully
    *     streamable here. When the commit carries the UPDATE-PAIRING
    *     annotation ([[LakeLog.Snapshot.updatePre]]/`updatePost`,
    *     written by the delta writer's first-class update path), the
    *     update halves surface as `update_preimage`/`update_postimage`
    *     events instead — Delta CDF's four-way change typing — while
    *     plain deletes and NOT-MATCHED inserts keep their labels;
    *     pre-pairing vintage commits (no annotation) keep the collapsed
    *     insert/delete form;
    *   - `dataChange=false` (compaction/clustering/rewrite_deletes):
    *     no events, same rows by contract;
    *   - copy-on-write REPLACE: not expressible as row events from file
    *     metadata alone (the rewrite mixes carried-over and changed
    *     rows) — fails loud naming the batch diff
    *     ([[graft.operators.LakeSnapshots.changes]]) and the
    *     merge-on-read mode that makes DML CDC-streamable.
    *
    * Planning cost tracks the COMMIT's size (its added files' and DV'd
    * files' footers), never the table's; manifest stats prune
    * pushed-filter-excluded files before any footer read.
    */
  /** Attach each planned split's applicable equality deletes —
    * sequencing rule plus KEY-STATISTICS scoping ([[LakeEq
    * .scopedApplicable]]: a file whose key-column bounds/blooms
    * provably contain none of a ref's keys skips decode-and-probe
    * entirely) — and the resolution refs of every involved key column
    * (hidden columns the reader decodes without emitting). Shared by
    * the batch scan, the CDC opening snapshot, and the append-stream
    * opening snapshot. Key-column resolution is case-insensitive
    * (pre-canonicalization sidecars carry user spellings).
    */
  def attachEq(dir: String, ps: Array[InputPartition],
               eqs: Seq[LakeEq.EqRef],
               stats: Map[String, LakeStats.FileStats],
               schema: StructType,
               parts: Map[String, Seq[String]] = Map.empty)
      : Array[InputPartition] =
    if (eqs.isEmpty) ps
    else {
      val allRefs = columnRefs(schema)
      ps.map { p =>
        val lp = p.asInstanceOf[LakeInputPartition]
        val name = new Path(lp.path).getName
        val fstats = stats.get(name)
        val addV = fstats.map(_.addV).getOrElse(-1L)
        val applicable = LakeEq.scopedApplicable(dir, eqs, addV,
          fstats, allRefs, schema, parts.get(name))
        if (applicable.isEmpty) p
        else {
          val keyCols = applicable.flatMap(_.keyCols).distinct
          val refs = keyCols.map(c =>
            allRefs.find(_.name.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalStateException(
              s"graft_lake $dir: equality-delete key column '$c' is " +
                "missing from the table schema")))
          lp.copy(eqFiles = applicable.map(_.name),
            eqCols = refs.toArray): InputPartition
        }
      }
    }

  /** Spark requires a UNIFORM columnar answer across a batch's
    * partitions: when any CDC split is POSITIONAL (delete /
    * update_preimage / eq-emit reads — the row reader's page-selected
    * machinery), pin EVERY split of the batch to the row path. An
    * all-whole-file batch (append-only history replays, opening
    * snapshots, upsert insert sides) flows columnar, with
    * `_change_type`/`_version` served as constant vectors (r16).
    */
  def pinRowIfPositionalCdc(ps: Array[InputPartition])
      : Array[InputPartition] = {
    val anyPositional = ps.exists { p =>
      val lp = p.asInstanceOf[LakeInputPartition]
      lp.cdc.exists(c =>
        c.onlyPositions.nonEmpty || c.onlyEqFiles.nonEmpty)
    }
    if (!anyPositional) ps
    else ps.map(p =>
      p.asInstanceOf[LakeInputPartition].copy(forceRow = true)
        : InputPartition)
  }

  def planCdcVersion(dir: String, snap: LakeLog.Snapshot,
                     cols: Array[LakeColumnRef], pushed: Array[Filter],
                     initialSnapshot: Boolean)
      : Array[InputPartition] = {
    def annotate(parts: Array[InputPartition],
                 info: LakeCdcInfo): Array[InputPartition] =
      parts.map { p =>
        p.asInstanceOf[LakeInputPartition].copy(cdc = Some(info))
          : InputPartition
      }
    // hidden-partitioning file pruning applies to change events too
    val specs =
      try LakePartitioning.bindAll(LakePartitioning.specsOf(dir),
        tableSchema(dir))
      catch { case _: Exception => IndexedSeq.empty }
    def pruned(files: Seq[String]): Seq[Path] =
      LakePartitioning.prune(files.map(new Path(dir, _)), snap.parts,
        specs, pushed)._1
    if (initialSnapshot) {
      // the opening snapshot's complete-state insert events subtract
      // live equality deletes exactly like the batch scan; unsequenceable
      // vintages stay loud
      LakeEq.requireSequenceable(dir, snap.eqs, snap.files, snap.stats)
      return attachEq(dir, annotate(planRowGroups(
        pruned(snap.files), cols, pushed,
        pruneGroups = true, snap.dvs, snap.stats).parts,
        LakeCdcInfo("insert", snap.version)),
        snap.eqs, snap.stats, tableSchema(dir), snap.parts)
    }
    // a version that ADDED equality refs — the upsert-epoch shape:
    // its events ARE reconstructible. The refs' key sets are the
    // delete side (pre-images read from prior files, scoped by the
    // sequencing rule + key statistics); the commit's own added files
    // are the insert side (their addV postdates every live ref).
    // Checked BEFORE the dataChange gate: added refs are themselves
    // proof of data change, and trusting a mislabeled flag would
    // silently drop delete events.
    val ownRefs = snap.eqs.filter(_.version == snap.version)
    if (ownRefs.nonEmpty) {
      if (snap.removed.nonEmpty || snap.dvAdded.nonEmpty)
        throw new IllegalStateException(
          s"change feed of $dir: commit v${snap.version} " +
            s"(${snap.operation}) combines equality deletes with file " +
            "replaces or deletion-vector changes — row events cannot " +
            "be derived; CALL system.rewrite_deletes and read across " +
            "the rewrite")
      // the delete side consults every prior file's stats: `snap` is
      // the version's complete manifest, so they are all at hand
      val schema = tableSchema(dir)
      val tcols = columnRefs(schema)
      val inserts: Seq[InputPartition] =
        if (snap.added.isEmpty) Seq.empty
        else annotate(planRowGroups(pruned(snap.added), cols,
          pushed, pruneGroups = true, Map.empty, snap.stats).parts,
          LakeCdcInfo("insert", snap.version)).toSeq
      val addedSet = snap.added.toSet
      val prior = snap.files.filterNot(addedSet)
      LakeEq.requireSequenceable(dir, ownRefs, prior, snap.stats)
      val earlier = snap.eqs.filter(_.version < snap.version)
      def scoped(refs: Seq[LakeEq.EqRef], name: String) = {
        val st = snap.stats.get(name)
        LakeEq.scopedApplicable(dir, refs,
          st.map(_.addV).getOrElse(-1L), st, tcols, schema,
          snap.parts.get(name))
      }
      val candidates = pruned(prior)
        .filter(p => scoped(ownRefs, p.getName).nonEmpty)
      val deletes: Seq[InputPartition] =
        if (candidates.isEmpty) Seq.empty
        else planRowGroups(candidates, cols, pushed,
          pruneGroups = true, snap.dvs, snap.stats).parts.toSeq
          .map { p =>
            val lp = p.asInstanceOf[LakeInputPartition]
            val name = new Path(lp.path).getName
            // EARLIER refs subtract (those rows were dead before this
            // commit — no event); the commit's OWN refs are the emit
            // filter (only their keys' pre-images are this version's
            // delete events)
            val sub = scoped(earlier, name)
            val own = scoped(ownRefs, name)
            val keyCols = (sub ++ own).flatMap(_.keyCols).distinct
            val refs = keyCols.map(c =>
              tcols.find(_.name.equalsIgnoreCase(c)).getOrElse(
                throw new IllegalStateException(
                  s"graft_lake $dir: equality-delete key column '$c' " +
                    "is missing from the table schema")))
            lp.copy(eqFiles = sub.map(_.name), eqCols = refs.toArray,
              cdc = Some(LakeCdcInfo("delete", snap.version,
                onlyEqFiles = own.map(_.name)))): InputPartition
          }
      return (inserts ++ deletes).toArray
    }
    if (!snap.dataChange) return Array.empty
    if (snap.removed.nonEmpty)
      throw new IllegalStateException(
        s"change feed of $dir hit copy-on-write replace commit " +
          s"v${snap.version} (${snap.operation}): a rewrite mixes " +
          "carried-over and changed rows, so row-level events cannot " +
          "be derived from file metadata — use the batch diff " +
          "(LakeSnapshots.changes) across the rewrite, or set " +
          "write.mode=merge-on-read to make DML CDC-streamable")
    val postSet = snap.updatePost.toSet
    val inserts = Seq(
      (snap.added.filterNot(postSet), "insert"),
      (snap.updatePost, "update_postimage")).flatMap {
      case (fs, label) =>
        if (fs.isEmpty) Array.empty[InputPartition]
        else annotate(planRowGroups(pruned(fs), cols,
          pushed, pruneGroups = true, Map.empty, snap.stats).parts,
          LakeCdcInfo(label, snap.version))
    }
    val deletes = snap.dvAdded.toSeq.sortBy(_._1).flatMap {
      case (file, sidecars) =>
        // split this file's commit-added positions by change class:
        // sidecars named in updatePre hold update pre-images, the rest
        // plain deletes (positions of the two classes are disjoint —
        // the writer routes each row to exactly one)
        val preSidecars = snap.updatePre.getOrElse(file, Seq.empty).toSet
        Seq((sidecars.filterNot(preSidecars), "delete"),
          (sidecars.filter(preSidecars), "update_preimage")).flatMap {
          case (side, label) =>
            if (side.isEmpty || pruned(Seq(file)).isEmpty)
              Array.empty[InputPartition]
            else {
              val positions = LakeDv.positions(dir, side)
              annotate(planRowGroups(Seq(new Path(dir, file)), cols,
                pushed, pruneGroups = true, Map.empty, snap.stats,
                onlyPositions = Some(positions)).parts,
                LakeCdcInfo(label, snap.version, Some(positions)))
            }
        }
    }
    (inserts ++ deletes).toArray
  }

  /** Table schema: the `_schema.ddl` sidecar is authoritative when
    * present (written by CREATE TABLE, advanced by ALTER TABLE — the
    * logical schema can be WIDER than any data file after an ADD
    * COLUMN; readers back-fill nulls), else the footer of the first
    * data file on disk (legacy / externally-populated dirs). Field-id
    * metadata rides in the sidecar's v2 JSON encoding (see
    * [[writeSchema]]); v1 plain-DDL sidecars keep parsing (id-less).
    */
  def tableSchema(dir: String): StructType = tableSchemaInfo(dir)._1

  /** (schema, maxFieldId). `maxFieldId = 0` marks a pre-field-id (v1)
    * schema; ALTER migrates it by assigning ids 1..n before evolving.
    * Ids are never reused after a DROP — that is the invariant that
    * lets a dropped name be re-added without resurrecting old values.
    */
  def tableSchemaInfo(dir: String): (StructType, Int) = {
    val ddl = new Path(dir, "_schema.ddl")
    val fs = ddl.getFileSystem(new Configuration())
    if (fs.exists(ddl)) {
      val in = fs.open(ddl)
      val text =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      if (text.trim.startsWith("{")) {
        // v2: {"graftSchemaVersion":2,"maxFieldId":N,"schema":{...}}
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(text)
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(root.get("schema").toString).asInstanceOf[StructType]
        (schema, root.get("maxFieldId").asInt(0))
      } else (StructType.fromDDL(text), 0)
    } else LakeLog.rawDataFiles(dir).headOption.map(new Path(dir, _)) match {
      case Some(f) =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(f, new Configuration()))
        try (LakeParquet.toStructType(
          reader.getFooter.getFileMetaData.getSchema), 0)
        finally reader.close()
      case None =>
        throw new IllegalStateException(
          s"no data files and no _schema.ddl in $dir")
    }
  }

  /** Atomically replace the schema sidecar (ALTER TABLE's commit):
    * last ALTER wins, and a concurrent [[tableSchema]] sees either
    * complete sidecar, never a torn or MISSING one. On `file://` that
    * is a true atomic overwrite (rename(2) via nio ATOMIC_MOVE —
    * delete-then-rename would open a window where the sidecar is
    * absent and a racing reader falls back to a data-file footer,
    * transiently resurrecting dropped columns). Other schemes fall
    * back to delete+rename, the documented port caveat (HDFS has
    * overwrite-rename via FileContext; object stores need their
    * conditional PUT).
    */
  def writeSchema(dir: String, schema: StructType): Unit =
    writeSchema(dir, schema,
      schema.fields.flatMap(LakeParquet.fieldId).foldLeft(0)(math.max))

  def writeSchema(dir: String, schema: StructType, maxFieldId: Int): Unit = {
    val fs = new Path(dir).getFileSystem(new Configuration())
    val dest = new Path(dir, "_schema.ddl")
    // v2 JSON when the schema carries field ids (StructType.json keeps
    // the metadata); plain DDL otherwise — so a never-altered table's
    // sidecar stays the human-readable v1 form
    val text =
      if (maxFieldId > 0)
        s"""{"graftSchemaVersion":2,"maxFieldId":$maxFieldId,"schema":${schema.json}}"""
      else schema.toDDL
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if ("file".equalsIgnoreCase(fs.getScheme)) {
      // stage and move through java.nio, OUTSIDE Hadoop's
      // ChecksumFileSystem: the move must not leave a stale `.crc`
      // sidecar describing the previous contents (a Hadoop reader
      // would fail the checksum). Any crc a previous Hadoop-path write
      // left is dropped first — between that delete and the move a
      // racing reader sees the OLD sidecar unverified, never a missing
      // or torn one.
      val tmp = java.nio.file.Paths.get(dir,
        s"._schema-${java.util.UUID.randomUUID()}.ddl")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._schema.ddl.crc"))
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // non-posix schemes: delete+rename, the documented port caveat
      // (HDFS has overwrite-rename via FileContext; object stores need
      // their conditional PUT)
      val tmp = new Path(dir, s"._schema-${java.util.UUID.randomUUID()}.ddl")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fs.delete(dest, false)
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(s"failed to publish schema in $dir")
    }
  }

  /** Table properties sidecar (`_props.json`): the DML-mode switch and
    * any future table-level knobs. Atomic overwrite like the schema
    * sidecar; absent file = empty map (copy-on-write defaults).
    */
  /** `write.sort.columns` — the table's WRITE SORT ORDER (Iceberg's
    * SORTED BY): every batch write requests an ORDERED distribution on
    * (partition transforms, then these columns), so ingest produces
    * range-disjoint, internally-sorted files no matter how the input
    * arrives. That layout is what gives min/max stats, row-group
    * pruning, and the LIMIT/TopN bounding layers their power — with it,
    * `ORDER BY k LIMIT n` plans one file and a point filter prunes by
    * bounds alone; declared as a property so the guarantee survives
    * every writer, not just pre-sorted inputs.
    */
  val SortColsKey = "write.sort.columns"

  /** The declared write-sort columns, empty when unset. */
  def sortColumnsOf(dir: String): Seq[String] =
    tableProps(dir).get(SortColsKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def tableProps(dir: String): Map[String, String] = {
    val p = new Path(dir, "_props.json")
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Map.empty
    else
      try {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(bytes, classOf[java.util.Map[String, String]])
          .asScala.toMap
      } catch { case _: Exception => Map.empty } // torn read: defaults
  }

  /** [[tableProps]] with STRICT error semantics: a missing file is the
    * legitimate "no properties" state, but a read/parse failure THROWS
    * instead of defaulting — for consumers where silently-empty is not
    * conservative (CHECK-constraint enforcement: an empty default
    * would un-enforce a declared guarantee; the knobs that only add
    * optional pruning keep the lenient reader).
    */
  def tablePropsStrict(dir: String): Map[String, String] = {
    val p = new Path(dir, "_props.json")
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(bytes, classOf[java.util.Map[String, String]])
        .asScala.toMap
    }
  }

  def writeProps(dir: String, props: Map[String, String]): Unit = {
    val fs = new Path(dir).getFileSystem(new Configuration())
    val dest = new Path(dir, "_props.json")
    if (props.isEmpty) { fs.delete(dest, false); return }
    val m = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    val bytes = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsBytes(m)
    if ("file".equalsIgnoreCase(fs.getScheme)) {
      val tmp = java.nio.file.Paths.get(dir,
        s"._props-${java.util.UUID.randomUUID()}.json")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(dir, s"._props-${java.util.UUID.randomUUID()}.json")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fs.delete(dest, false)
      fs.rename(tmp, dest)
    }
  }

  /** Column names present in ANY current data file's footer — plan
    * evidence and diagnostics (driver-side footer metadata).
    */
  def footerColumns(dir: String): Set[String] = {
    val conf = new Configuration()
    dataFiles(dir).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getFileMetaData.getSchema
        .getFields.asScala.map(_.getName).toSeq
      finally reader.close()
    }.toSet
  }

  /** Column names carried by current data files WITHOUT field ids —
    * the only files the re-add guard must still protect (id-stamped
    * files resolve strictly by id and can never leak a re-added
    * name's old values).
    */
  def legacyFooterColumns(dir: String): Set[String] = {
    val conf = new Configuration()
    dataFiles(dir).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val fields = reader.getFooter.getFileMetaData.getSchema
          .getFields.asScala
        if (fields.exists(_.getId != null)) Seq.empty
        else fields.map(_.getName).toSeq
      } finally reader.close()
    }.toSet
  }

  def prunable(f: Filter): Boolean = f match {
    case EqualTo(_, v)            => comparable(v)
    case GreaterThan(_, v)        => comparable(v)
    case GreaterThanOrEqual(_, v) => comparable(v)
    case LessThan(_, v)           => comparable(v)
    case LessThanOrEqual(_, v)    => comparable(v)
    // IN prunes when every non-null value compares (null literals in
    // an IN list match nothing under 3VL and drop out); null checks
    // prune from null counts / null tuple slots
    case org.apache.spark.sql.sources.In(_, vs) =>
      vs.forall(v => v == null || comparable(v))
    // `<=> NULL` names exactly the null partition; `<=> v` prunes as
    // the equality it is (the tuple layer normalizes it) — stats
    // layers keep it conservatively via their unprunable-shape default
    case org.apache.spark.sql.sources.EqualNullSafe(_, v) =>
      v == null || comparable(v)
    case org.apache.spark.sql.sources.IsNull(_)    => true
    case org.apache.spark.sql.sources.IsNotNull(_) => true
    case _                        => false
  }
  private def comparable(v: Any): Boolean = v match {
    case _: Long | _: Int | _: Double | _: String => true
    case _: java.sql.Date | _: java.time.LocalDate => true
    case _: java.sql.Timestamp | _: java.time.Instant => true
    case _: java.time.LocalDateTime               => true // NTZ literals
    case _: java.math.BigDecimal                  => true // DECIMAL
    case _: scala.math.BigDecimal                 => true
    case _                                        => false
  }

  /** Runtime group filter support: can `file` contain any of `values`
    * in column `col`? True unless every row group's stats exclude every
    * value (conservative: unreadable stats / unconvertible values keep
    * the file). Driver-side footer metadata only.
    */
  def fileMightContain(file: String, ref: LakeColumnRef,
                       values: Seq[Any],
                       stats: Option[LakeStats.FileStats] = None): Boolean = {
    val catalystToFilter: Any => Option[Any] = {
      case v: java.lang.Long    => Some(v)
      case v: java.lang.Integer => Some(v)
      case v: java.lang.Double  => Some(v)
      case v: org.apache.spark.unsafe.types.UTF8String => Some(v.toString)
      case v: String            => Some(v)
      case _                    => None
    }
    val lifted = values.map(catalystToFilter)
    if (lifted.exists(_.isEmpty)) return true
    // manifest stats first: when the file's committed bounds exclude
    // every probed value, drop it with ZERO I/O; anything uncertain
    // falls through to the footer's row-group precision
    stats.foreach { st =>
      if (!lifted.flatten.exists(v => LakeStats.mightMatchFile(
          st, Array(ref), Array(EqualTo(ref.name, v)))))
        return false
    }
    LakeStats.noteFooterOpen()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), new Configuration()))
    try {
      // stats live under the file-LOCAL name (a renamed column keeps
      // its old name in old files); an absent column keeps the file
      val local = resolveInFile(
        reader.getFooter.getFileMetaData.getSchema, ref)
      local.forall { col =>
        val blocks = reader.getRowGroups.asScala
        blocks.exists(b =>
          lifted.flatten.exists(v => mightMatch(b, EqualTo(col, v))))
      }
    } finally reader.close()
  }

  /** Conservative footer-stats check: false ONLY when the row group
    * provably contains no matching row. Missing/empty stats keep the
    * group.
    */
  def mightMatch(block: BlockMetaData, f: Filter): Boolean = {
    def bounds(col: String): Option[(Comparable[Any], Comparable[Any],
        org.apache.parquet.schema.PrimitiveType)] =
      block.getColumns.asScala
        .find(_.getPath.toDotString == col)
        .flatMap { c =>
          val s = c.getStatistics
          if (s == null || !s.hasNonNullValue) None
          else Some((s.genericGetMin.asInstanceOf[Comparable[Any]],
                     s.genericGetMax.asInstanceOf[Comparable[Any]],
                     c.getPrimitiveType))
        }
    def lift(v: Any): Any = v match {
      case s: String => Binary.fromString(s)
      // date/timestamp literals to their PHYSICAL footer-stat types
      // (INT32 epoch days / INT64 micros) — exact internal encodings
      case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
      case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
      case t: java.sql.Timestamp =>
        Long.box(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case t: java.time.Instant =>
        Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case t: java.time.LocalDateTime => // NTZ micros
        Long.box(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
          1000000L + t.getNano / 1000L)
      case other => other
    }
    // a literal whose class differs from the column's physical stats
    // (an ALTER-widened column read against a pre-promotion vintage:
    // Long literal vs INT32 stats) compares as "unknown" — keep the
    // group and let the residual filter decide, mirroring the
    // manifest-stats path's kind-mismatch rule. DECIMAL stats (INT64
    // unscaled or FLBA two's-complement bytes, per the column's
    // logical annotation) lift into decimal space and compare EXACTLY
    // against BigDecimal literals of any scale — the footer twin of
    // LakeStats.cmp's dec:<scale> rule.
    def cmpSafe(a: Comparable[Any], v: Any,
                pt: org.apache.parquet.schema.PrimitiveType): Option[Int] = {
      val decAnn = pt.getLogicalTypeAnnotation match {
        case d: org.apache.parquet.schema.LogicalTypeAnnotation
            .DecimalLogicalTypeAnnotation => Some(d)
        case _ => None
      }
      val bdLit: Option[java.math.BigDecimal] = v match {
        case bd: java.math.BigDecimal  => Some(bd)
        case bd: scala.math.BigDecimal => Some(bd.bigDecimal)
        case _                         => None
      }
      (decAnn, bdLit) match {
        case (Some(ann), Some(bd)) =>
          val unscaled = (a: Any) match {
            case l: java.lang.Long =>
              Some(java.math.BigInteger.valueOf(l))
            case i: java.lang.Integer =>
              Some(java.math.BigInteger.valueOf(i.longValue()))
            case b: Binary =>
              Some(new java.math.BigInteger(b.getBytes))
            case _ => None
          }
          unscaled.map(u =>
            new java.math.BigDecimal(u, ann.getScale).compareTo(bd))
        case _ =>
          try Some(a.compareTo(lift(v)))
          catch { case _: ClassCastException => None }
      }
    }
    // null-count statistics: -1 = unknown (keep); row-group row count
    // comes from the block itself
    def nullsOf(col: String): Option[Long] =
      block.getColumns.asScala
        .find(_.getPath.toDotString == col)
        .flatMap { c =>
          val s = c.getStatistics
          if (s == null || !s.isNumNullsSet) None else Some(s.getNumNulls)
        }
    f match {
      case EqualTo(c, v) => bounds(c).forall { case (mn, mx, pt) =>
        cmpSafe(mn, v, pt).forall(_ <= 0) &&
          cmpSafe(mx, v, pt).forall(_ >= 0) }
      case GreaterThan(c, v) =>
        bounds(c).forall { case (_, mx, pt) =>
          cmpSafe(mx, v, pt).forall(_ > 0) }
      case GreaterThanOrEqual(c, v) =>
        bounds(c).forall { case (_, mx, pt) =>
          cmpSafe(mx, v, pt).forall(_ >= 0) }
      case LessThan(c, v) =>
        bounds(c).forall { case (mn, _, pt) =>
          cmpSafe(mn, v, pt).forall(_ < 0) }
      case LessThanOrEqual(c, v) =>
        bounds(c).forall { case (mn, _, pt) =>
          cmpSafe(mn, v, pt).forall(_ <= 0) }
      case org.apache.spark.sql.sources.In(c, vs) =>
        // any non-null value inside the bounds keeps the group; an
        // all-null/empty list matches nothing
        vs.filter(_ != null) match {
          case Array() => false
          case nn => bounds(c).forall { case (mn, mx, pt) =>
            nn.exists(v => cmpSafe(mn, v, pt).forall(_ <= 0) &&
              cmpSafe(mx, v, pt).forall(_ >= 0))
          }
        }
      case org.apache.spark.sql.sources.IsNull(c) =>
        nullsOf(c).forall(_ > 0)
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        nullsOf(c).forall(_ < block.getRowCount)
      // `<=> NULL` prunes as IS NULL; `<=> v` as the equality it is
      case org.apache.spark.sql.sources.EqualNullSafe(c, null) =>
        nullsOf(c).forall(_ > 0)
      case org.apache.spark.sql.sources.EqualNullSafe(c, v) =>
        mightMatch(block, EqualTo(c, v))
      case _ => true
    }
  }
}
