package graft.sources.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The second contract of the custom-connector seam (after
  * [[RangeSource]]'s pushdown):
  * REPORTED PARTITIONING — the scan tells Catalyst its splits are
  * key-grouped on `grp` (`SupportsReportPartitioning` +
  * `KeyGroupedPartitioning`, each split carrying its key via
  * `HasPartitionKey`), so a join of two such tables on `grp` plans as a
  * STORAGE-PARTITIONED JOIN: zero shuffle on either side
  * (`spark.sql.sources.v2.bucketing.enabled`). This is the DSv2-native
  * successor to Hive bucketing — how Iceberg/Delta co-located joins
  * avoid exchanging 100 TB twice: the storage layout IS the exchange,
  * and Spark aligns the two sides' partition values instead of
  * re-hashing rows.
  *
  * Rows use the same deterministic generator as the batch/stream range
  * sources; `grp = id / groupRows` and each split is exactly one group,
  * so the reported key is true by construction — the property the real
  * lake formats get from their manifest metadata.
  */
class RangeGroupedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RangeGroupedSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new RangeGroupedTable(
      opts.getLong("end", 1000L),
      opts.getLong("grouprows", 100L))
  }
}

object RangeGroupedSource {
  val schema: StructType = new StructType()
    .add("grp", LongType, nullable = false)
    .add("id", LongType, nullable = false)
    .add("v", LongType, nullable = false)
    .add("val", DoubleType, nullable = false)
    .add("tag", StringType, nullable = false)
}

class RangeGroupedTable(end: Long, groupRows: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_range_grouped($end,$groupRows)"
  override def schema(): StructType = RangeGroupedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = RangeGroupedSource.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        RangeGroupedScan(end, groupRows, required)
    }
}

case class RangeGroupedScan(end: Long, groupRows: Long, required: StructType)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering {
  private def numGroups: Int =
    math.max(1, ((end + groupRows - 1) / groupRows)).toInt

  // runtime-filtered group set: None until Spark delivers the join's
  // build-side keys, then only matching groups are planned. Mutable by
  // the SupportsRuntimeV2Filtering contract (filter() arrives after
  // planning, before partition enumeration); excluded from case-class
  // equality, which is what BatchScanExec caches on.
  @volatile private var keptGroups: Option[Set[Long]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRangeGrouped [0, $end) groups=$numGroups " +
      s"cols=${required.fieldNames.mkString(",")}"

  // the contract that enables the storage-partitioned join: splits are
  // grouped by the identity transform over `grp`, one group per split
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.identity("grp")), numGroups)

  // ---- runtime (dynamic-partition-style) filtering: the join's
  // build side executes first, Spark hands the observed `grp` keys to
  // the scan as an IN predicate, and partition enumeration drops every
  // non-matching group BEFORE any task launches — how a DSv2 lake
  // (Iceberg/Delta) prunes a 100 TB fact mount down to the handful of
  // partitions a filtered dimension actually touches.
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("grp"))
  override def filter(predicates: Array[Predicate]): Unit = {
    val keys = predicates.collect {
      case p if p.name() == "IN" =>
        val vals: Array[Option[Long]] = p.children().collect {
          case l: Literal[_] => l.value match {
            case v: java.lang.Long    => Some(v.longValue())
            case v: java.lang.Integer => Some(v.longValue())
            case _                    => None // null / other type
          }
        }
        // children = [column ref, literal...]; a non-literal, null, or
        // non-integral shape means an unexpected predicate — ignore it
        // entirely (keep all groups; pruning is an optimization, a bad
        // guess here is a correctness bug)
        if (vals.length == p.children().length - 1 &&
            vals.forall(_.isDefined))
          Some(vals.flatten.toSet: Set[Long])
        else None
      case _ => None
    }.flatten
    if (keys.nonEmpty) {
      val kept = keys.reduce(_ intersect _)
      keptGroups = Some(kept)
      RangeGroupedScan.lastRuntimeKept = Some(kept.size)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    (0 until numGroups).iterator
      .filter(g => keptGroups.forall(_.contains(g.toLong)))
      .map { g =>
        GroupedInputPartition(g.toLong, g * groupRows,
          math.min(end, (g + 1) * groupRows)): InputPartition
      }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GroupedReaderFactory(required.fieldNames, groupRows)
}

object RangeGroupedScan {
  /** Test observability: how many groups the last runtime filter kept
    * (plan text alone can't show that enumeration actually shrank).
    */
  @volatile var lastRuntimeKept: Option[Int] = None
}

case class GroupedInputPartition(g: Long, a: Long, b: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(g)
}

class GroupedReaderFactory(fieldNames: Array[String], groupRows: Long)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val GroupedInputPartition(_, a, b) = p
    new PartitionReader[InternalRow] {
      private var id = a - 1
      override def next(): Boolean = { id += 1; id < b }
      override def get(): InternalRow = {
        val v = RangeSource.vOf(id)
        InternalRow.fromSeq(fieldNames.toIndexedSeq.map {
          case "grp" => id / groupRows
          case "id"  => id
          case "v"   => v
          case "val" => v / 1000.0
          case "tag" => UTF8String.fromString("t" + (math.floorMod(id, 5L)))
          case other => throw new IllegalStateException(s"unknown col $other")
        })
      }
      override def close(): Unit = ()
    }
  }
}
