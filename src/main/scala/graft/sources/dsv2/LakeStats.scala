package graft.sources.dsv2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}

/** Per-file column statistics embedded in the snapshot manifest —
  * min/max/null-count per prunable column plus row/row-group counts,
  * harvested ONCE from the parquet footer at COMMIT time (a local read
  * of bytes the writer just produced) and carried in every manifest
  * with the same complete-set semantics as the file list.
  *
  * Why this exists: without manifest stats, every scan's planning pass
  * opens every data file's footer on the driver — O(files) remote
  * reads per query. At lakehouse scale (millions of files) that is THE
  * planning bottleneck, which is why Iceberg manifests and Delta's
  * Add actions both carry file-level stats. With them, a selective
  * predicate prunes whole files from pure manifest metadata and only
  * the SURVIVORS pay a footer read (for row-group-level pruning, which
  * stays exact). [[LakeTableIO.planRowGroups]] consumes the map;
  * [[footerOpens]] lets specs pin "pruned file = zero footer reads".
  *
  * Conservatism contract (same as the row-group pruner): a column or
  * file with missing/unusable stats is KEPT; min/max are stored only
  * for stats the parquet footer reports exactly (strings longer than
  * [[MaxStatLen]] are dropped rather than truncated, because a
  * prefix-truncated max understates the bound). String order is the
  * parquet one (unsigned UTF-8 byte order via [[Binary]]), matching
  * the row-group path bit for bit. A column proven ALL-NULL (min/max
  * absent, null count = row count) provably fails every pushed
  * comparison, so the file prunes.
  *
  * Resolution mirrors [[LakeTableIO.resolveInFile]]: stats are keyed
  * by the FILE-LOCAL column name and carry the field id when the file
  * has ids, so renamed columns keep pruning and a dropped-then-re-added
  * name can never consult the old column's bounds.
  */
object LakeStats {

  /** Longest string bound stored verbatim; longer ones are dropped
    * (NOT truncated — see class doc). Numeric kinds are never dropped.
    */
  val MaxStatLen = 64

  /** Test instrumentation: parquet footer opens performed by PLANNING
    * (`LakeTableIO.planRowGroups`) since process start. Specs pin that
    * manifest-stats pruning skips the footer read entirely for files a
    * predicate excludes. Production code never reads this.
    */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong()

  /** Planning-side footer-open bookkeeping. */
  def noteFooterOpen(): Unit = footerOpens.incrementAndGet()

  /** One column's bounds under its FILE-LOCAL name. `kind` tags the
    * decode ("long"|"int"|"double"|"float"|"bool"|"str"); `min`/`max`
    * are canonical strings of that kind, absent (None) when the column
    * is all-null or bounds were unusable; `nulls` is -1 when unknown;
    * `id` is the parquet field id (-1 for id-less files).
    *
    * `sum`/`asum` are WRITER-harvested exact column sums (parquet
    * footers carry no sums, so only files written through
    * [[LakeWriterFactory]] have them): the exact integer sum of the
    * file's non-null values and the sum of their absolute values, both
    * as decimal strings of the EXACT integer (unscaled integer for
    * `dec:<scale>` columns, the value itself for int/long). They are
    * what makes metadata-only SUM/AVG answerable ([[LakeTableIO
    * .metaAggregate]]): per-file exact sums fold associatively, and the
    * absolute sum bounds every PARTIAL sum a row scan could form, so
    * the metadata answer can prove the scan would not have overflowed
    * (ANSI and legacy modes agree exactly inside that region). Files
    * from external writers, compaction rewrites (plain `df.write`
    * output), or pre-sum vintages simply lack the fields — the SUM
    * answer declines conservatively, never guesses.
    */
  final case class ColStats(kind: String, min: Option[String],
                            max: Option[String], nulls: Long, id: Int,
                            bloom: Option[String] = None,
                            sum: Option[String] = None,
                            asum: Option[String] = None,
                            // writer-built KMV distinct-count sketch
                            // (stats.ndv.columns) — see [[LakeNdv]]
                            ndv: Option[String] = None,
                            // string columns: total + max UTF-8 BYTE
                            // length of non-null values (mergeable →
                            // snapshot avgLen/maxLen for the CBO
                            // column-statistics report)
                            tlen: Option[String] = None,
                            mlen: Option[String] = None,
                            // bounded reservoir sample of the column's
                            // values (stats.histogram.columns) — the
                            // CBO equi-height histogram fact, see
                            // [[LakeHist]]
                            hsample: Option[String] = None)

  /** One data file's manifest statistics. `rows`/`groups` come from the
    * footer (physical rows — deletion vectors are accounted separately
    * by the planner); `cols` holds only columns with harvestable kinds.
    */
  final case class FileStats(rows: Long, groups: Int,
                             cols: Map[String, ColStats],
                             // the snapshot VERSION that added the file
                             // (-1 = unknown: legacy vintages, bootstrap
                             // sweeps). The equality-delete sequencing
                             // fact: an eq-delete committed at version V
                             // applies to files with addV < V — the same
                             // commit's post-images (addV = V) and later
                             // rows are never affected (Iceberg's
                             // data-vs-delete sequence-number rule).
                             addV: Long = -1L)

  /** Exact-numeric types the writer harvests sums for (the metadata
    * SUM/AVG candidates): int/long and decimal of any supported
    * precision. Floating point is excluded by design — FP addition is
    * order-dependent, so no metadata sum could claim to equal the row
    * scan's answer; byte/short are excluded because the stats kinds
    * never distinguish them from int (conservative, like MIN/MAX).
    */
  def sumAdmits(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType =>
        d.precision <= 38
      case _ => false
    }

  /** Exact integer accumulator for writer-side sum harvesting: a Long
    * fast path (one `addExact` per row, allocation-free) that promotes
    * to BigInteger on overflow — exact at any magnitude. Not
    * thread-safe; one instance per (file, column) inside a single
    * writer task.
    */
  final class ExactSum {
    private var l = 0L
    private var big: java.math.BigInteger = null
    def add(v: Long): Unit =
      if (big == null) {
        try l = Math.addExact(l, v)
        catch { case _: ArithmeticException =>
          big = java.math.BigInteger.valueOf(l)
            .add(java.math.BigInteger.valueOf(v)) }
      } else big = big.add(java.math.BigInteger.valueOf(v))
    def add(v: java.math.BigInteger): Unit =
      big = (if (big == null) java.math.BigInteger.valueOf(l) else big)
        .add(v)
    def toDecimalString: String =
      if (big == null) l.toString else big.toString
  }

  // ---------------------------------------------------------------- harvest

  /** Read `names`' footers under `dir` and build their manifest stats.
    * Called by [[LakeLog.commit]] for this commit's added files — write
    * amplification O(added), never O(table). A file that cannot be read
    * (vanished, foreign format) simply gets no entry: planning falls
    * back to its footer like any legacy file.
    */
  def harvest(dir: String, names: Seq[String]): Map[String, FileStats] = {
    val conf = new Configuration()
    def one(name: String): Option[(String, FileStats)] =
      try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(dir, name), conf))
        try Some(name -> harvestOne(reader)) finally reader.close()
      } catch { case _: Exception => None }
    // the reads are independent footer I/O — a bounded parallel sweep
    // keeps commit latency near-flat in file count (a partitioned
    // write adds one file per partition; on an object store the
    // per-footer latency makes the serial form the commit's dominant
    // term)
    if (names.size < 4) names.flatMap(one).toMap
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(names.toList)(n => Future(one(n))),
        Duration.Inf).flatten.toMap
    }
  }

  private def harvestOne(reader: ParquetFileReader): FileStats = {
    val schema = reader.getFooter.getFileMetaData.getSchema
    val blocks = reader.getRowGroups.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // top-level primitive columns with a harvestable kind
    val candidates = schema.getFields.asScala.filter(_.isPrimitive).flatMap {
      f =>
        val p = f.asPrimitiveType()
        kindOf(p).map { k =>
          (f.getName, k, Option(f.getId).map(_.intValue()).getOrElse(-1))
        }
    }
    val cols = candidates.flatMap { case (name, kind, id) =>
      mergeBlocks(blocks, name, kind, rows).map(cs =>
        name -> cs.copy(id = id))
    }.toMap
    FileStats(rows, blocks.size, cols)
  }

  /** The stats kind of a primitive column, None when unharvestable.
    * INT64-backed DECIMAL harvests as `dec:<scale>` (unscaled longs,
    * compared exactly in decimal space by [[cmp]]); other decimal
    * physicals and non-string binaries are skipped; DATE stats
    * (physical epoch-day ints) are consulted by [[cmp]] against java
    * Date/LocalDate literals — exact internal encodings.
    */
  private[dsv2] def kindOf(p: org.apache.parquet.schema.PrimitiveType)
      : Option[String] = {
    val logical = p.getLogicalTypeAnnotation
    val isDecimal = logical
      .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
    p.getPrimitiveTypeName match {
      // INT64-unscaled DECIMAL: the canonical stat is the unscaled
      // long (signed order == numeric order at one scale), the kind
      // carries the scale so comparisons against BigDecimal filter
      // literals are EXACT in decimal space. Other decimal physicals
      // (INT32/FIXED from foreign writers) stay unharvested.
      case PrimitiveTypeName.INT64 if isDecimal =>
        Some("dec:" + logical
          .asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          .getScale)
      // wide decimals (p > 18, FIXED_LEN_BYTE_ARRAY big-endian two's
      // complement): same dec:<scale> kind — the canonical string is
      // the unscaled integer's decimal form, which [[cmpSame]]/[[cmp]]
      // compare through BigInteger/BigDecimal, exactly
      case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY if isDecimal =>
        Some("dec:" + logical
          .asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          .getScale)
      case _ if isDecimal            => None
      case PrimitiveTypeName.INT64   => Some("long")
      case PrimitiveTypeName.INT32   => Some("int")
      case PrimitiveTypeName.DOUBLE  => Some("double")
      case PrimitiveTypeName.FLOAT   => Some("float")
      case PrimitiveTypeName.BOOLEAN => Some("bool")
      case PrimitiveTypeName.BINARY
          if logical
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some("str")
      // opaque payload bytes: NULL COUNTS ONLY (kind "bin" stores no
      // bounds — byte-order ranges over media blobs prune nothing and
      // would bloat every manifest with payload prefixes)
      case PrimitiveTypeName.BINARY  => Some("bin")
      case _ => None
    }
  }

  /** Merge one column's row-group statistics: min of mins, max of maxs,
    * sum of null counts. Any group with unusable stats poisons the
    * column (None — conservative keep at plan time); a group that is
    * provably all-null contributes only nulls.
    */
  private[dsv2] def mergeBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      col: String, kind: String, fileRows: Long): Option[ColStats] = {
    var min: Option[String] = None
    var max: Option[String] = None
    var nulls = 0L
    var nullsKnown = true
    for (b <- blocks) {
      val chunk = b.getColumns.asScala.find(_.getPath.toDotString == col)
        .getOrElse(return None)
      val s = chunk.getStatistics
      if (s == null) return None
      if (s.isNumNullsSet) nulls += s.getNumNulls else nullsKnown = false
      if (kind == "bin") {
        // payload bytes: bounds are never harvested; the entry exists
        // for its null count (IS [NOT] NULL pruning + COUNT(col)
        // metadata answers). An unknown null count keeps the column
        // conservative via nulls = -1 below.
      } else if (s.hasNonNullValue) {
        val (lo, hi) = (enc(kind, s.genericGetMin),
          enc(kind, s.genericGetMax))
        if (lo.isEmpty || hi.isEmpty) return None // oversized string bound
        min = Some(min.fold(lo.get)(m =>
          if (cmpSame(kind, lo.get, m) < 0) lo.get else m))
        max = Some(max.fold(hi.get)(m =>
          if (cmpSame(kind, hi.get, m) > 0) hi.get else m))
      } else if (!(s.isNumNullsSet && s.getNumNulls == b.getRowCount)) {
        return None // no bounds and not provably all-null: unusable
      }
    }
    Some(ColStats(kind, min, max, if (nullsKnown) nulls else -1L, -1))
  }

  /** Canonical string of a footer stat value; None when unstorable. */
  private def enc(kind: String, v: Any): Option[String] = (kind, v) match {
    case ("str", b: Binary) =>
      val s = b.toStringUsingUTF8
      if (s.length <= MaxStatLen) Some(s) else None
    // FLBA wide decimal: two's-complement big-endian unscaled bytes →
    // the integer's decimal string (INT64 decimals hit the fallthrough
    // with a Long, producing the same canonical form)
    case (k, b: Binary) if k.startsWith("dec:") =>
      Some(new java.math.BigInteger(b.getBytes).toString)
    case (_, other) => Some(String.valueOf(other))
  }

  /** Compare two canonical stat strings of the same kind. Strings use
    * parquet's unsigned UTF-8 byte order (via [[Binary]]) — identical
    * to what the row-group pruner compares (and to Spark's UTF8String
    * order, which is why metadata MIN/MAX answers are exact).
    */
  private[dsv2] def cmpSame(kind: String, a: String, b: String): Int = kind match {
    case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
    case k if k.startsWith("dec:") =>
      // unscaled integers at one scale: integer order IS numeric
      // order; BigInteger so wide (p > 18) decimals compare exactly
      new java.math.BigInteger(a).compareTo(new java.math.BigInteger(b))
    case "int"    => java.lang.Integer.compare(a.toInt, b.toInt)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "float"  => java.lang.Float.compare(a.toFloat, b.toFloat)
    case "bool"   => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _ => Binary.fromString(a).compareTo(Binary.fromString(b))
  }

  // ---------------------------------------------------------------- pruning

  /** Resolve a table column to `st`'s stats entry — by FIELD ID when the
    * file's stats carry ids, else current-then-prior name (the exact
    * resolution [[LakeTableIO.resolveInFile]] applies to data reads, so
    * stats can never be consulted for a different column than the read
    * would decode). None = no usable entry (conservative callers keep).
    */
  def resolveCol(st: FileStats, ref: LakeColumnRef): Option[ColStats] = {
    val hasIds = st.cols.values.exists(_.id >= 0)
    if (hasIds && ref.id >= 0) st.cols.values.find(_.id == ref.id)
    else ref.candidates.iterator.flatMap(st.cols.get).nextOption()
  }

  /** Can `file` contain any row matching ALL of `pushed`, judged from
    * manifest stats alone? True (keep) on any uncertainty; false means
    * PROVABLY empty — the planner skips the file without a footer read.
    * Column resolution mirrors [[LakeTableIO.resolveInFile]]: by field
    * id when the file's stats carry ids, else current-then-prior name.
    */
  def mightMatchFile(st: FileStats, cols: Array[LakeColumnRef],
                     pushed: Array[Filter]): Boolean = {
    val refByName = cols.map(r => r.name -> r).toMap
    def resolve(ref: LakeColumnRef): Option[ColStats] = resolveCol(st, ref)
    // can the file contain literal `v` per its bloom? TRUE unless the
    // bloom proves absence (no bloom / unhashable literal / malformed
    // bits all keep — conservatism contract)
    def bloomKeeps(cs: ColStats, v: Any): Boolean =
      cs.bloom.forall(b64 => LakeBloom.hashLiteral(v).forall(h =>
        LakeBloom.mightContain(LakeBloom.decode(b64), h)))
    // per-filter verdict, a TOTAL function so a multi-filter
    // conjunction composes every filter's pruning power (an early
    // method return would short-circuit the rest)
    def one(f: Filter): Boolean = f match {
      case org.apache.spark.sql.sources.IsNull(c) =>
        refByName.get(c).forall(ref => resolve(ref).forall(cs =>
          cs.nulls != 0)) // unknown (-1) keeps; 0 nulls excludes
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        refByName.get(c).forall(ref => resolve(ref).forall(cs =>
          !(cs.nulls >= 0 && cs.nulls == st.rows)))
      case org.apache.spark.sql.sources.In(c, vs) =>
        val nn = vs.filter(_ != null)
        if (nn.isEmpty) false // IN () / IN (NULL): matches nothing
        else refByName.get(c).forall(ref => resolve(ref).forall { cs =>
          // decode the column's bloom ONCE for the whole value list —
          // per-value decode made a 1024-key eq-scoping probe O(keys)
          // Base64 decodes per (file, ref) (r15 review finding)
          val bits = cs.bloom.map(LakeBloom.decode)
          def bloomKeepsOne(v: Any): Boolean =
            bits.forall(b => LakeBloom.hashLiteral(v).forall(h =>
              LakeBloom.mightContain(b, h)))
          if (cs.min.isEmpty || cs.max.isEmpty)
            // no bounds: all-null excludes; else a bloom (built from the
            // actual values, even bound-unharvestable ones) can still
            // answer membership for every listed value
            (!(cs.nulls >= 0 && cs.nulls == st.rows)) &&
              nn.exists(bloomKeepsOne)
          else nn.exists(v =>
            ((cmp(cs.kind, cs.min.get, v),
              cmp(cs.kind, cs.max.get, v)) match {
              case (Some(lo), Some(hi)) => lo <= 0 && hi >= 0
              case _                    => true
            }) && bloomKeepsOne(v))
        })
      case EqualTo(col, v)            => cmpOne(col, v, f)
      case GreaterThan(col, v)        => cmpOne(col, v, f)
      case GreaterThanOrEqual(col, v) => cmpOne(col, v, f)
      case LessThan(col, v)           => cmpOne(col, v, f)
      case LessThanOrEqual(col, v)    => cmpOne(col, v, f)
      // `<=> NULL` prunes as IS NULL; `<=> v` as the equality it is
      case org.apache.spark.sql.sources.EqualNullSafe(c, null) =>
        one(org.apache.spark.sql.sources.IsNull(c))
      case org.apache.spark.sql.sources.EqualNullSafe(c, v) =>
        cmpOne(c, v, EqualTo(c, v))
      case _                          => true // unprunable shape
    }
    def cmpOne(col: String, v: Any, f: Filter): Boolean =
      refByName.get(col).forall { ref =>
        resolve(ref).forall { cs =>
          // per-file bloom: an equality whose literal is provably
          // absent excludes the file even when min/max can't (unsorted
          // keys overlap every file's bounds) — the point-lookup prune
          val bloomOk = f match {
            case _: EqualTo => bloomKeeps(cs, v)
            case _          => true // range shapes: bounds only
          }
          bloomOk && {
            if (cs.min.isEmpty || cs.max.isEmpty)
              // comparisons never match NULL: a provably all-null column
              // excludes the file; unknown bounds keep it
              !(cs.nulls >= 0 && cs.nulls == st.rows)
            else (cmp(cs.kind, cs.min.get, v),
                  cmp(cs.kind, cs.max.get, v)) match {
              case (Some(lo), Some(hi)) => f match {
                case _: EqualTo            => lo <= 0 && hi >= 0
                case _: GreaterThan        => hi > 0 // max > v
                case _: GreaterThanOrEqual => hi >= 0
                case _: LessThan           => lo < 0 // min < v
                case _: LessThanOrEqual    => lo <= 0
                case _                     => true
              }
              case _ => true // filter literal class ≠ column kind: keep
            }
          }
        }
      }
    pushed.forall(one)
  }

  /** Can the manifest PROVE every physical row of `file` matches `f`?
    * The dual of [[mightMatchFile]]: false on ANY uncertainty (the
    * caller keeps the filter residual — merely slower), true only when
    * the stats entry resolves, the null count is known ZERO (SQL
    * comparisons never match NULL, so one unaccounted null breaks
    * universality — IS NOT NULL needs exactly this too), bounds are
    * present, and the bound comparison holds for the WHOLE [min, max]
    * interval. Exact kinds only: long/int/str/dec (floating point
    * never proves — NaN sits outside the stats order). This is what
    * lets the scan CONSUME a pushed filter ([[LakeScanBuilder]]'s
    * stats-proven consumption): per-file facts of the immutable bytes,
    * no contract trust — sound under external commits, rollbacks,
    * branches, and time travel (each snapshot proves with its own
    * stats). Deletion vectors only remove rows, so a proof over
    * physical rows covers the live subset.
    */
  def mustMatchFile(st: FileStats, cols: Array[LakeColumnRef],
                    filters: Array[Filter]): Boolean = {
    // one name→ref map per FILE, shared by every filter (mirrors the
    // dual mightMatchFile — verify sites loop files × filters)
    val refByName = cols.map(r => r.name -> r).toMap
    def entry(c: String): Option[ColStats] =
      refByName.get(c).flatMap(ref => resolveCol(st, ref))
    def provableKind(k: String): Boolean =
      k == "long" || k == "int" || k == "str" || k.startsWith("dec:")
    def noNulls(cs: ColStats): Boolean = cs.nulls == 0
    def bounds(cs: ColStats): Option[(String, String)] =
      if (provableKind(cs.kind)) cs.min.zip(cs.max) else None
    def cmpBoth(cs: ColStats, v: Any): Option[(Int, Int)] =
      bounds(cs).flatMap { case (lo, hi) =>
        cmp(cs.kind, lo, v).zip(cmp(cs.kind, hi, v))
      }
    def one(f: Filter): Boolean = f match {
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        entry(c).exists(noNulls)
      case EqualTo(c, v) if v != null =>
        entry(c).exists(cs => noNulls(cs) &&
          cmpBoth(cs, v).exists { case (lo, hi) => lo == 0 && hi == 0 })
      case org.apache.spark.sql.sources.EqualNullSafe(c, v) if v != null =>
        entry(c).exists(cs => noNulls(cs) &&
          cmpBoth(cs, v).exists { case (lo, hi) => lo == 0 && hi == 0 })
      case GreaterThan(c, v) =>
        entry(c).exists(cs => noNulls(cs) &&
          cmpBoth(cs, v).exists(_._1 > 0)) // min > v
      case GreaterThanOrEqual(c, v) =>
        entry(c).exists(cs => noNulls(cs) &&
          cmpBoth(cs, v).exists(_._1 >= 0))
      case LessThan(c, v) =>
        entry(c).exists(cs => noNulls(cs) &&
          cmpBoth(cs, v).exists(_._2 < 0)) // max < v
      case LessThanOrEqual(c, v) =>
        entry(c).exists(cs => noNulls(cs) &&
          cmpBoth(cs, v).exists(_._2 <= 0))
      case org.apache.spark.sql.sources.In(c, vs) =>
        // provable only in the degenerate constant-column case
        val nn = vs.filter(_ != null)
        nn.nonEmpty && entry(c).exists(cs => noNulls(cs) &&
          nn.exists(v =>
            cmpBoth(cs, v).exists { case (lo, hi) => lo == 0 && hi == 0 }))
      case _ => false
    }
    filters.forall(one)
  }

  /** Could [[mustMatchFile]] EVER prove `f`, regardless of stats? A
    * cheap pre-gate so the pushdown path skips the snapshot+stats
    * read entirely when no remaining filter has a provable shape
    * (IsNull / float literals / unknown shapes never prove).
    */
  def provableShape(f: Filter): Boolean = {
    def lit(v: Any): Boolean = v match {
      case null => false
      case _: java.lang.Double | _: java.lang.Float => false // NaN order
      case _ => true
    }
    f match {
      case org.apache.spark.sql.sources.IsNotNull(_)        => true
      case EqualTo(_, v)                                    => lit(v)
      case org.apache.spark.sql.sources.EqualNullSafe(_, v) => lit(v)
      case GreaterThan(_, v)                                => lit(v)
      case GreaterThanOrEqual(_, v)                         => lit(v)
      case LessThan(_, v)                                   => lit(v)
      case LessThanOrEqual(_, v)                            => lit(v)
      case org.apache.spark.sql.sources.In(_, vs) => vs.exists(lit)
      case _ => false
    }
  }

  /** `stat` (canonical string of `kind`) compared to the pushed filter
    * literal `v`; None when the literal's class does not match the
    * column kind (conservative keep — mirrors the row-group path where
    * Spark only pushes literals of the column's type).
    */
  private def cmp(kind: String, stat: String, v: Any): Option[Int] =
    (kind, v) match {
      case ("long", l: Long)     => Some(java.lang.Long.compare(stat.toLong, l))
      case ("int", i: Int)       => Some(java.lang.Integer.compare(stat.toInt, i))
      case ("double", d: Double) => Some(java.lang.Double.compare(stat.toDouble, d))
      case ("float", fl: Float)  => Some(java.lang.Float.compare(stat.toFloat, fl))
      case ("bool", b: Boolean)  => Some(java.lang.Boolean.compare(stat.toBoolean, b))
      case ("str", s: String) =>
        Some(Binary.fromString(stat).compareTo(Binary.fromString(s)))
      // DATE literals against INT32 epoch-day stats — the exact
      // internal encoding, so the comparison is precise, not heuristic
      case ("int", d: java.sql.Date) =>
        Some(java.lang.Integer.compare(stat.toInt,
          d.toLocalDate.toEpochDay.toInt))
      case ("int", d: java.time.LocalDate) =>
        Some(java.lang.Integer.compare(stat.toInt, d.toEpochDay.toInt))
      // DECIMAL literals against INT64 unscaled stats: lift the stat
      // into decimal space at the column's scale and compare exactly —
      // a literal of ANY scale (even finer than the column's) compares
      // correctly, no rounding heuristics
      case (k, bd: java.math.BigDecimal) if k.startsWith("dec:") =>
        val scale = k.substring(4).toInt
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(stat), scale).compareTo(bd))
      case (k, bd: scala.math.BigDecimal) if k.startsWith("dec:") =>
        val scale = k.substring(4).toInt
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(stat), scale)
          .compareTo(bd.bigDecimal))
      case _ => None
    }

  // ------------------------------------------------------------- manifest IO

  /** Encode to the manifest's JSON object tree (java collections, the
    * same shapes [[LakeLog.writeManifest]] serializes).
    */
  def toJson(stats: Map[String, FileStats]): java.util.HashMap[String, Object] = {
    val m = new java.util.HashMap[String, Object]()
    stats.toSeq.sortBy(_._1).foreach { case (file, fs) =>
      val fm = new java.util.HashMap[String, Object]()
      fm.put("rows", java.lang.Long.valueOf(fs.rows))
      fm.put("groups", java.lang.Integer.valueOf(fs.groups))
      if (fs.addV >= 0) fm.put("addV", java.lang.Long.valueOf(fs.addV))
      val cm = new java.util.HashMap[String, Object]()
      fs.cols.toSeq.sortBy(_._1).foreach { case (col, cs) =>
        val c = new java.util.HashMap[String, Object]()
        c.put("kind", cs.kind)
        cs.min.foreach(c.put("min", _))
        cs.max.foreach(c.put("max", _))
        c.put("nulls", java.lang.Long.valueOf(cs.nulls))
        if (cs.id >= 0) c.put("id", java.lang.Integer.valueOf(cs.id))
        cs.bloom.foreach(c.put("bloom", _))
        cs.sum.foreach(c.put("sum", _))
        cs.asum.foreach(c.put("asum", _))
        cs.ndv.foreach(c.put("ndv", _))
        cs.tlen.foreach(c.put("tlen", _))
        cs.mlen.foreach(c.put("mlen", _))
        cs.hsample.foreach(c.put("hsample", _))
        cm.put(col, c)
      }
      fm.put("cols", cm)
      m.put(file, fm)
    }
    m
  }

  /** Decode from a parsed manifest tree; tolerant of absent/malformed
    * entries (→ no stats: footer fallback, never a failed read).
    */
  def fromJson(v: Object): Map[String, FileStats] = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.flatMap { case (file, fv) =>
        fv match {
          case fm: java.util.Map[_, _] =>
            val f = fm.asInstanceOf[java.util.Map[String, Object]]
            def lng(k: String): Long = f.get(k) match {
              case n: Number => n.longValue(); case _ => -1L
            }
            val cols = f.get("cols") match {
              case cm: java.util.Map[_, _] =>
                cm.asScala.flatMap { case (col, cv) =>
                  cv match {
                    case c0: java.util.Map[_, _] =>
                      val c = c0.asInstanceOf[java.util.Map[String, Object]]
                      val kind = String.valueOf(c.get("kind"))
                      def str(k: String): Option[String] =
                        Option(c.get(k)).map(String.valueOf(_))
                      val nulls = c.get("nulls") match {
                        case n: Number => n.longValue(); case _ => -1L
                      }
                      val id = c.get("id") match {
                        case n: Number => n.intValue(); case _ => -1
                      }
                      Some(String.valueOf(col) ->
                        ColStats(kind, str("min"), str("max"), nulls, id,
                          str("bloom"), str("sum"), str("asum"),
                          str("ndv"), str("tlen"), str("mlen"),
                          str("hsample")))
                    case _ => None
                  }
                }.toMap
              case _ => Map.empty[String, ColStats]
            }
            val groups = f.get("groups") match {
              case n: Number => n.intValue(); case _ => 1
            }
            Some(String.valueOf(file) ->
              FileStats(lng("rows"), groups, cols, lng("addV")))
          case _ => None
        }
      }.toMap
    case _ => Map.empty
  }
}
