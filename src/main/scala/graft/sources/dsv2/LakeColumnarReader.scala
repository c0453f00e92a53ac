package graft.sources.dsv2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.BytesUtils
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader, Dictionary, Encoding}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.{DataPage, DataPageV1, DataPageV2, PageReader}
import org.apache.parquet.column.values.ValuesReader
import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridDecoder
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ParquetDecodingException
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Vectorized read path (the r12 verdict's rung 2): pages decode
  * STRAIGHT into Spark [[OnHeapColumnVector]]s through parquet's thin
  * [[ValuesReader]] layer — definition levels and values read directly
  * off each page, bypassing `ColumnReaderImpl`'s per-value state
  * machine (triplet tracking, converter indirection, per-value
  * binding dispatch) that both the record-assembly path and the r12
  * row fast path pay. Whole-stage codegen consumes the batches through
  * its columnar-to-row loop (ColumnarToRow in the plan).
  *
  * DEFAULT: ON (`-Dgraft.lake.reader.columnar=false` is the kill
  * switch). The honest scan benchmark receipt (5-col wide aggregate,
  * min-of-5 warm runs): 1.5 M rows — columnar 0.34–0.39 s vs row fast
  * path 0.28–0.35 s; 6 M rows — 0.45–0.52 s vs 0.44–0.45 s. PARITY,
  * not a win: this scan is dominated by page I/O + decompression +
  * planning, which both paths share — the r12 flat-columnar rewrite
  * already removed record assembly from the row path, so the
  * ColumnReaderImpl-vs-ValuesReader delta is a thin slice of the
  * total. The batch layout is kept as the default because it is what
  * a columnar downstream (and any future SIMD/batch operator) consumes
  * natively, at no measured cost today.
  *
  * Per-COLUMN fallback: a chunk using an encoding outside the bulk set
  * (DELTA_*, BYTE_STREAM_SPLIT, legacy BIT_PACKED levels) reads
  * through a [[ColumnReader]] cursor instead — same batch output,
  * judged per column from chunk metadata before any page is touched.
  *
  * Scope mirrors the row fast path's preconditions, checked by
  * [[LakeReaderFactory.supportColumnarReads]] per scan: flat primitive
  * projection, no positional (CDC) reads, no synthesized metadata
  * columns. Within that scope everything the row path supports is
  * supported here: merge-on-read deletion vectors (value-level skip),
  * EQUALITY-delete subtraction (r16 — hidden key columns decode into
  * scratch vectors, matching rows are dropped by inline batch
  * compaction, so a continuously-upserted table's hottest files keep
  * the vectorized path), projection reorder, null back-fill for
  * columns a file predates, and vintage widening (INT32→LONG,
  * FLOAT→DOUBLE, decimal precision) — writers decode the file's
  * physical type and emit the TABLE type.
  */
object LakeColumnarReader {
  /** Rows per emitted batch — Spark's own parquet default. */
  val BatchRows = 4096

  def enabled: Boolean =
    "false" != System.getProperty("graft.lake.reader.columnar")

  /** Factory-level eligibility: scan-shaped facts only (identical
    * across a scan's partitions — Spark rejects mixed row/columnar
    * scans), never per-file ones (vintage conversion and per-chunk
    * encodings are handled inside the reader, so they cannot flip
    * eligibility per partition).
    */
  def eligible(part: LakeInputPartition, projected: StructType): Boolean =
    enabled &&
      // eq-attached splits are columnar since r16 (hidden key columns
      // decode into scratch vectors, matched rows subtract batch-side)
      // and so are WHOLE-FILE CDC event splits (insert /
      // update_postimage / opening snapshot: _change_type and
      // _version are per-split CONSTANTS served as constant vectors)
      // — eligibility consults neither eqFiles nor the annotation's
      // presence, only whether the split is POSITIONAL (delete /
      // update_preimage / eq-emit reads, which need the row reader's
      // page-selected positional machinery). The replay planners
      // stamp forceRow on EVERY split of a batch that contains any
      // positional split, keeping Spark's per-batch columnar answer
      // uniform.
      part.cdc.forall(c =>
        c.onlyPositions.isEmpty && c.onlyEqFiles.isEmpty) &&
      !part.forceRow &&
      // empty projections (count-only scans where the metadata answer
      // declined) stay on the row path: nothing to decode either way,
      // and the row reader's empty-requested handling is battle-tested
      projected.fields.nonEmpty &&
      part.cols.forall(ref =>
        ref.name != LakeTableIO.MetaFile &&
        ref.name != LakeTableIO.MetaPos &&
        // the CDC metadata columns are constants only under an
        // annotation; a bare scan projecting them stays row-path
        (part.cdc.isDefined ||
          (ref.name != LakeTableIO.CdcChangeType &&
            ref.name != LakeTableIO.CdcVersion))) &&
      LakeParquet.isFlat(projected) &&
      projected.fields.forall(f => supportedType(f.dataType))

  private def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Encodings the bulk cursor decodes; anything else routes that
    * column through the ColumnReader fallback cursor.
    */
  private[dsv2] val bulkEncodings: Set[Encoding] = Set(
    Encoding.PLAIN, Encoding.RLE,
    Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY)

  /** One (file physical type → table type) vector writer over the thin
    * ValuesReader layer. Abstract class (not FunctionN) so the
    * per-value call is a monomorphic-friendly virtual with an unboxed
    * row index.
    */
  private[dsv2] abstract class VWriter {
    def write(vr: ValuesReader, v: OnHeapColumnVector, i: Int): Unit
  }

  /** The admissible (file, table) type pairs are EXACTLY the row
    * path's widening matrix — identical types, INT32→LONG,
    * FLOAT→DOUBLE, same-scale decimal precision widening; anything
    * else fails loud as "not a widening promotion" instead of silently
    * mis-decoding a foreign vintage. Decimal arms dispatch on the
    * file's PHYSICAL type (a foreign FLBA-backed small-precision
    * decimal decodes as bytes, never misread by our own precision
    * convention).
    */
  private[dsv2] def vWriterFor(physical: org.apache.parquet.schema
        .PrimitiveType.PrimitiveTypeName,
      fileDt: DataType, tableDt: DataType): VWriter =
    (fileDt, tableDt) match {
      case (LongType, LongType) | (TimestampType, TimestampType) |
           (TimestampNTZType, TimestampNTZType) =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putLong(i, vr.readLong()) }
      case (IntegerType, LongType) => // widened vintage
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putLong(i, vr.readInteger().toLong) }
      case (IntegerType, IntegerType) | (DateType, DateType) =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putInt(i, vr.readInteger()) }
      case (FloatType, DoubleType) => // widened vintage
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDouble(i, vr.readFloat().toDouble) }
      case (DoubleType, DoubleType) =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDouble(i, vr.readDouble()) }
      case (FloatType, FloatType) =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putFloat(i, vr.readFloat()) }
      case (BooleanType, BooleanType) =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putBoolean(i, vr.readBoolean()) }
      case (StringType, StringType) | (BinaryType, BinaryType) =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit = {
          val b = vr.readBytes()
          // zero-copy into the vector's child array when backed by a
          // heap array slice; Binary.getBytes may copy, toByteBuffer
          // exposes the slice
          val bb = b.toByteBuffer
          if (bb.hasArray)
            v.putByteArray(i, bb.array(),
              bb.arrayOffset() + bb.position(), bb.remaining())
          else {
            val a = b.getBytes
            v.putByteArray(i, a, 0, a.length)
          }
        } }
      case (a: DecimalType, b: DecimalType)
          if a.scale == b.scale && b.precision >= a.precision &&
            physical == org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT64 =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(
            vr.readLong(), b.precision, b.scale), b.precision) }
      case (a: DecimalType, b: DecimalType)
          if a.scale == b.scale && b.precision >= a.precision =>
        new VWriter { def write(vr: ValuesReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDecimal(i, LakeParquet.decimalFromBytes(
            vr.readBytes().getBytes, b.precision, b.scale),
            b.precision) }
      case (a, b) => throw new IllegalStateException(
        s"columnar reader: file column is $a but the table expects " +
          s"$b — not a widening promotion")
    }

  /** ColumnReader-based writer for the fallback cursor (exotic
    * encodings): same widening matrix and decimal physical dispatch,
    * reads off the generic reader.
    */
  private[dsv2] abstract class CWriter {
    def write(cr: ColumnReader, v: OnHeapColumnVector, i: Int): Unit
  }

  private[dsv2] def cWriterFor(physical: org.apache.parquet.schema
        .PrimitiveType.PrimitiveTypeName,
      fileDt: DataType, tableDt: DataType): CWriter =
    (fileDt, tableDt) match {
      case (LongType, LongType) | (TimestampType, TimestampType) |
           (TimestampNTZType, TimestampNTZType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putLong(i, cr.getLong) }
      case (IntegerType, LongType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putLong(i, cr.getInteger.toLong) }
      case (IntegerType, IntegerType) | (DateType, DateType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putInt(i, cr.getInteger) }
      case (FloatType, DoubleType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDouble(i, cr.getFloat.toDouble) }
      case (DoubleType, DoubleType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDouble(i, cr.getDouble) }
      case (FloatType, FloatType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putFloat(i, cr.getFloat) }
      case (BooleanType, BooleanType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putBoolean(i, cr.getBoolean) }
      case (StringType, StringType) | (BinaryType, BinaryType) =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit = {
          val b = cr.getBinary.getBytes
          v.putByteArray(i, b, 0, b.length)
        } }
      case (a: DecimalType, b: DecimalType)
          if a.scale == b.scale && b.precision >= a.precision &&
            physical == org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT64 =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(cr.getLong,
            b.precision, b.scale), b.precision) }
      case (a: DecimalType, b: DecimalType)
          if a.scale == b.scale && b.precision >= a.precision =>
        new CWriter { def write(cr: ColumnReader,
            v: OnHeapColumnVector, i: Int): Unit =
          v.putDecimal(i, LakeParquet.decimalFromBytes(
            cr.getBinary.getBytes, b.precision, b.scale), b.precision) }
      case (a, b) => throw new IllegalStateException(
        s"columnar reader: file column is $a but the table expects " +
          s"$b — not a widening promotion")
    }

  /** One column's streaming decode cursor: write the next value (or
    * null) into `v` row `i`, or skip it (a DV'd row).
    */
  private[dsv2] trait Cursor {
    def advance(v: OnHeapColumnVector, i: Int): Unit
    def skip1(): Unit
  }

  /** Bulk cursor: pages decoded through ValuesReader directly —
    * definition levels from the page's own RLE section, values from
    * plain/dictionary readers; no ColumnReaderImpl in the loop.
    *
    * PROFITABILITY RECEIPT (r14, closing the r13 "bulk decoder" rung):
    * run-length null stripes + word-aligned value memcpy were gated on
    * a measured ≥20 % win on a genuinely scan-bound shape. The scan bench
    * at the densest shape available — 10.5 M rows COMPACTED to 16
    * files (the new compactFiles knob removes the 700-footer planning
    * noise), 5-column wide aggregate, local[16] — times columnar at
    * 0.64–0.78 s vs the row path's 0.70–0.80 s: the two paths sit
    * INSIDE each other's noise band, so per-value decode is not the
    * bottleneck even with planning amortized away (snappy
    * decompression + aggregation dominate). The precondition is
    * unmeetable; the rung stays closed with these numbers rather than
    * adopted on faith.
    */
  private[dsv2] final class BulkCursor(desc: ColumnDescriptor,
                                       pr: PageReader,
                                       writer: VWriter) extends Cursor {
    private val maxDef = desc.getMaxDefinitionLevel
    private val dict: Dictionary = {
      val dp = pr.readDictionaryPage()
      if (dp == null) null else dp.getEncoding.initDictionary(desc, dp)
    }
    // per-page state: definition-level reader (null when maxDef == 0:
    // every value present) and the values reader
    private var defV1: ValuesReader = null
    private var defV2: RunLengthBitPackingHybridDecoder = null
    private var vals: ValuesReader = null
    private var remaining = 0

    private def loadPage(): Unit = {
      val p = pr.readPage()
      if (p == null) throw new ParquetDecodingException(
        s"premature end of pages for ${desc.getPath.mkString(".")}")
      p.accept(new DataPage.Visitor[Unit] {
        override def visit(p1: DataPageV1): Unit = {
          val in = p1.getBytes.toInputStream
          // ColumnReaderBase's exact init sequence: rep levels (a
          // zero-width no-op reader for flat schemas), then def
          // levels, then values — all off one stream
          val rl = p1.getRlEncoding.getValuesReader(desc,
            org.apache.parquet.column.ValuesType.REPETITION_LEVEL)
          rl.initFromPage(p1.getValueCount, in)
          val dl = p1.getDlEncoding.getValuesReader(desc,
            org.apache.parquet.column.ValuesType.DEFINITION_LEVEL)
          dl.initFromPage(p1.getValueCount, in)
          defV1 = if (maxDef == 0) null else dl
          defV2 = null
          vals = valuesReader(p1.getValueEncoding)
          vals.initFromPage(p1.getValueCount, in)
          remaining = p1.getValueCount
        }
        override def visit(p2: DataPageV2): Unit = {
          defV1 = null
          defV2 =
            if (maxDef == 0) null
            else new RunLengthBitPackingHybridDecoder(
              BytesUtils.getWidthFromMaxInt(maxDef),
              p2.getDefinitionLevels.toInputStream)
          vals = valuesReader(p2.getDataEncoding)
          vals.initFromPage(p2.getValueCount, p2.getData.toInputStream)
          remaining = p2.getValueCount
        }
      })
    }

    private def valuesReader(enc: Encoding): ValuesReader =
      if (enc.usesDictionary()) {
        if (dict == null) throw new ParquetDecodingException(
          s"dictionary-encoded page without a dictionary page: " +
            desc.getPath.mkString("."))
        enc.getDictionaryBasedValuesReader(desc,
          org.apache.parquet.column.ValuesType.VALUES, dict)
      } else enc.getValuesReader(desc,
        org.apache.parquet.column.ValuesType.VALUES)

    private def nextDef(): Int =
      if (defV1 != null) defV1.readInteger()
      else if (defV2 != null) defV2.readInt()
      else maxDef

    override def advance(v: OnHeapColumnVector, i: Int): Unit = {
      if (remaining == 0) loadPage()
      remaining -= 1
      if (nextDef() == maxDef) writer.write(vals, v, i)
      else v.putNull(i)
    }

    override def skip1(): Unit = {
      if (remaining == 0) loadPage()
      remaining -= 1
      if (nextDef() == maxDef) vals.skip()
    }
  }

  /** Fallback cursor over the generic ColumnReader — exotic encodings
    * keep working, just without the bulk win.
    */
  private[dsv2] final class StepCursor(cr: ColumnReader, maxDef: Int,
                                       writer: CWriter) extends Cursor {
    override def advance(v: OnHeapColumnVector, i: Int): Unit = {
      if (cr.getCurrentDefinitionLevel == maxDef) writer.write(cr, v, i)
      else v.putNull(i)
      cr.consume()
    }
    override def skip1(): Unit = {
      if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
      cr.consume()
    }
  }
}

/** Per-(file, row-group) columnar reader. Same projection resolution
  * as the row reader (field-id-first, prior names for legacy files);
  * deletion-vector positions skip at VALUE level; vectors are reused
  * across batches.
  */
class LakeColumnarPartitionReader(part: LakeInputPartition,
                                  projected: StructType)
    extends PartitionReader[ColumnarBatch] {
  import LakeColumnarReader._

  // belt-and-braces: a columnar read of a POSITIONAL CDC split would
  // silently skip the emit tests — `eligible` must have routed those
  // to the row path (eq-attached subtraction splits and whole-file
  // CDC event splits are handled here since r16)
  require(part.cdc.forall(c =>
      c.onlyPositions.isEmpty && c.onlyEqFiles.isEmpty),
    s"columnar read planned over a positional CDC split of " +
      s"${part.path} — row-path routing bug")

  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(part.path), new Configuration()))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  // EVALUATION columns (mirrors the row reader): the projection, plus
  // — when equality deletes apply to this file — any involved key
  // column the projection lacks, appended HIDDEN (decoded into a
  // scratch vector for the membership test, never emitted). The
  // prefix invariant (evalCols starts with part.cols verbatim) keeps
  // every eval index below part.cols.length an output ordinal.
  private val evalCols: Array[LakeColumnRef] =
    if (part.eqFiles.isEmpty) part.cols
    else part.cols ++ part.eqCols.filter(ec =>
      !part.cols.exists(_.name == ec.name))
  // file column name -> eval position
  private val filePos: Map[String, Int] =
    evalCols.zipWithIndex.flatMap { case (ref, i) =>
      LakeTableIO.resolveInFile(fileSchema, ref).map(_ -> i)
    }.toMap
  private val requested: MessageType = {
    val kept = fileSchema.getFields.asScala
      .filter(t => filePos.contains(t.getName))
    new MessageType(fileSchema.getName, kept.asJava)
  }
  reader.setRequestedSchema(requested)
  private val requestedStruct = LakeParquet.toStructType(requested)
  // file-projected position -> eval position (output ordinal when
  // < part.cols.length, hidden eq-key slot otherwise)
  private val outIndex: Array[Int] =
    requestedStruct.fieldNames.map(filePos)
  private def hiddenAt(reqPos: Int): Boolean =
    outIndex(reqPos) >= part.cols.length
  // the type each sink slot holds: output columns decode in the TABLE
  // type (widening applied), hidden eq-key columns in the FILE's own
  // type (identity pair — the canonical key encoding is invariant
  // across the admitted widenings, mirroring the row path's raw
  // compare)
  private val sinkType: Array[DataType] =
    requestedStruct.fields.zipWithIndex.map { case (f, i) =>
      if (hiddenAt(i)) f.dataType
      else projected.fields(outIndex(i)).dataType
    }

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

  private val pages = reader.readRowGroup(part.rowGroup)
  // per projected file column: a bulk cursor when the chunk's encoding
  // set admits it (judged from chunk metadata, no page I/O), else the
  // generic fallback; exactly ONE of the two consumes a column's pages
  private val cursors: Array[Cursor] =
    if (requestedStruct.isEmpty) Array.empty
    else {
      val block = reader.getFooter.getBlocks.get(part.rowGroup)
      val encByPath: Map[String, Set[Encoding]] =
        block.getColumns.asScala.map(c =>
          c.getPath.toDotString -> c.getEncodings.asScala.toSet).toMap
      val descs = requested.getColumns.asScala.toArray
      val allBulk = descs.forall { d =>
        encByPath.getOrElse(d.getPath.mkString("."), Set.empty)
          .forall(bulkEncodings.contains)
      }
      if (allBulk)
        descs.zipWithIndex.map { case (d, i) =>
          new BulkCursor(d, pages.getPageReader(d),
            vWriterFor(d.getPrimitiveType.getPrimitiveTypeName,
              requestedStruct.fields(i).dataType,
              sinkType(i))): Cursor
        }
      else {
        // any exotic column routes the WHOLE group through the generic
        // store (a PageReader is single-pass: mixing per-column bulk
        // cursors with ColumnReadStoreImpl would double-consume)
        val crs = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(requested).getRootConverter,
          requested, reader.getFooter.getFileMetaData.getCreatedBy)
        descs.zipWithIndex.map { case (d, i) =>
          new StepCursor(crs.getColumnReader(d),
            d.getMaxDefinitionLevel,
            cWriterFor(d.getPrimitiveType.getPrimitiveTypeName,
              requestedStruct.fields(i).dataType,
              sinkType(i))): Cursor
        }
      }
    }

  // reused output vectors, one per PROJECTED column; slots no file
  // column maps to stay all-null (the ADD COLUMN back-fill)
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(BatchRows, projected)
  // scratch vectors for the hidden eq-key columns (decoded, tested,
  // never emitted), plus the per-cursor sink routing: cursor i writes
  // the batch vector its eval ordinal names, or its scratch slot
  private val sinks: Array[OnHeapColumnVector] = {
    val hiddenFields = requestedStruct.fields.zipWithIndex
      .filter { case (_, i) => hiddenAt(i) }
    val scratch =
      if (hiddenFields.isEmpty) Array.empty[OnHeapColumnVector]
      else OnHeapColumnVector.allocateColumns(BatchRows,
        StructType(hiddenFields.map(_._1)))
    var h = -1
    requestedStruct.fields.indices.map { i =>
      if (hiddenAt(i)) { h += 1; scratch(h) }
      else vectors(outIndex(i))
    }.toArray
  }
  // change-data-feed metadata columns: per-split CONSTANTS the file
  // never carries (the row reader synthesizes them per row; here they
  // fill their vectors once per batch) — excluded from the null
  // back-fill below
  private val ctIdx =
    if (part.cdc.isEmpty) -1
    else part.cols.indexWhere(_.name == LakeTableIO.CdcChangeType)
  private val verIdx =
    if (part.cdc.isEmpty) -1
    else part.cols.indexWhere(_.name == LakeTableIO.CdcVersion)
  private val ctBytes: Array[Byte] =
    part.cdc.map(_.changeType.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).orNull
  private val verValue: Long = part.cdc.map(_.version).getOrElse(-1L)
  private val backfill: Array[Boolean] = {
    val covered = outIndex.filter(_ < part.cols.length).toSet
    projected.indices.map(i => !covered.contains(i) &&
      i != ctIdx && i != verIdx).toArray
  }
  private val batch = new ColumnarBatch(vectors.map(v =>
    v: org.apache.spark.sql.vectorized.ColumnVector))

  // CDC constants fill their vectors ONCE (per-split constants; the
  // reset loop in next() skips these indices, so the fill survives
  // every batch — refilling 4096 slots per batch would cost about
  // two extra data columns of decode for no information)
  if (ctIdx >= 0 && ctBytes != null) {
    var r = 0
    while (r < BatchRows) {
      vectors(ctIdx).putByteArray(r, ctBytes, 0, ctBytes.length)
      r += 1
    }
  }
  if (verIdx >= 0 && part.cdc.isDefined) {
    var r = 0
    while (r < BatchRows) {
      vectors(verIdx).putLong(r, verValue)
      r += 1
    }
  }

  // equality-delete membership tests (mirrors the row reader's
  // eqTestsOf): per applicable sidecar, the file-projected positions
  // of its key columns + the canonical key set. A sidecar whose key
  // column the FILE cannot resolve is dropped — every row's key value
  // there is null (the file predates the column), and null never
  // matches a non-null key.
  private val eqTests: Array[(Array[Int], Set[String])] =
    if (part.eqFiles.isEmpty) Array.empty
    else {
      val reqPosByEval: Map[Int, Int] =
        outIndex.zipWithIndex.map { case (e, r) => e -> r }.toMap
      val tableDir = new Path(part.path).getParent.toString
      part.eqFiles.flatMap { name =>
        val (cols, keys) = LakeEq.cached(tableDir, name)
        val positions = cols.map { c =>
          val e = evalCols.indexWhere(_.name.equalsIgnoreCase(c))
          if (e < 0) -1 else reqPosByEval.getOrElse(e, -1)
        }
        if (positions.contains(-1)) None
        else Some((positions.toArray, keys))
      }.toArray
    }
  // typed read-back of one sink slot for the canonical key encoding —
  // built only for positions a test actually consults; the admitted
  // key types only, anything else fails loud like the row path's
  // encodeValue
  private val keyRead: Array[(OnHeapColumnVector, Int) => Any] =
    requestedStruct.fields.indices.map { i =>
      if (!eqTests.exists(_._1.contains(i)))
        null: (OnHeapColumnVector, Int) => Any
      else sinkType(i) match {
        case IntegerType | DateType =>
          (v: OnHeapColumnVector, r: Int) => v.getInt(r)
        case LongType =>
          (v: OnHeapColumnVector, r: Int) => v.getLong(r)
        case StringType =>
          (v: OnHeapColumnVector, r: Int) => v.getUTF8String(r)
        case other => throw new IllegalArgumentException(
          "graft_lake equality delete: key column type " +
            s"$other is not an admitted key type")
      }
    }.toArray
  private def eqHitAt(row: Int): Boolean = {
    var i = 0
    while (i < eqTests.length) {
      val (pos, keys) = eqTests(i)
      val values = new Array[Any](pos.length)
      var j = 0
      var nullKey = false
      while (j < pos.length && !nullKey) {
        val p = pos(j)
        if (sinks(p).isNullAt(row)) nullKey = true
        else values(j) = keyRead(p)(sinks(p), row)
        j += 1
      }
      if (!nullKey && keys.contains(LakeEq.encodeKey(values.toSeq)))
        return true
      i += 1
    }
    false
  }

  private var pos: Long = groupStart - 1
  private var remaining: Long = pages.getRowCount

  override def next(): Boolean = {
    if (remaining <= 0) return false
    var i = 0
    while (i < vectors.length) {
      // CDC constant vectors keep their constructor-time fill
      if (i != ctIdx && i != verIdx) {
        vectors(i).reset()
        if (backfill(i)) vectors(i).putNulls(0, BatchRows)
      }
      i += 1
    }
    i = 0
    while (i < sinks.length) { // scratch slots reset too (key vectors)
      if (hiddenAt(i)) sinks(i).reset()
      i += 1
    }
    var out = 0
    // a subtracted row leaves slot `out` written; the NEXT row
    // overwrites it (inline selection compaction) — but put* never
    // clears a null bit the rejected row set, so a dirty slot's null
    // flags are reset explicitly before reuse (putNotNull; the
    // numNulls overcount this leaves only disables the all-non-null
    // shortcut, never misreads a value)
    var dirty = false
    while (out < BatchRows && remaining > 0) {
      remaining -= 1
      pos += 1
      if (dvCursor < deleted.length && deleted(dvCursor) == pos) {
        dvCursor += 1 // merge-on-read deleted row: value-skip
        var c = 0
        while (c < cursors.length) { cursors(c).skip1(); c += 1 }
      } else {
        var c = 0
        if (dirty) {
          while (c < cursors.length) {
            sinks(c).putNotNull(out)
            c += 1
          }
          c = 0
          dirty = false
        }
        while (c < cursors.length) {
          cursors(c).advance(sinks(c), out)
          c += 1
        }
        // equality-delete subtraction, batch-side (r16): a matching
        // row is simply not claimed
        if (eqTests.isEmpty || !eqHitAt(out)) out += 1
        else dirty = true
      }
    }
    if (out == 0 && remaining <= 0) return false // tail fully
      // DV'd / eq-subtracted
    batch.setNumRows(out)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { batch.close(); reader.close() }
}
