package graft.sources.dsv2

import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** HIDDEN PARTITIONING for [[LakeTable]] — Iceberg's partition-transform
  * model (identity / bucket / truncate / days / months / years), kept
  * as metadata users never see in their rows:
  *
  *   - the TRANSFORM SPEC is a table-level property
  *     (`partition.spec` in `_props.json`), declared at CREATE TABLE
  *     via `PARTITIONED BY (...)`;
  *   - every data file records its PARTITION TUPLE (the transform
  *     values all its rows share) in the snapshot manifest, written by
  *     the data writer which SPLITS incoming rows by tuple — correctness
  *     never depends on how Spark distributed the rows, clustering is
  *     purely an efficiency contract ([[LakeWrite]]'s
  *     `RequiresDistributionAndOrdering`);
  *   - planning prunes whole files from manifest metadata when a pushed
  *     filter on a SOURCE column provably excludes their tuple — before
  *     (and independent of) column-stats pruning, and exact for
  *     transforms, not min/max-approximate;
  *   - scans over fully-tupled snapshots report
  *     `KeyGroupedPartitioning` so joins between co-partitioned tables
  *     run as STORAGE-PARTITIONED JOINS — zero shuffle on either side.
  *
  * Scale rationale: at 100 TB partition values are the only per-file
  * metadata a planner can afford to consult for every query — tuple
  * pruning is O(files) driver arithmetic with zero I/O, and the
  * storage-partitioned join is the difference between shuffling two
  * 50 TB fact tables and shuffling nothing.
  *
  * Null semantics: a tuple slot holding null (the source column was
  * null) is encoded distinctly; comparison filters never match null, so
  * those files prune for any pushed comparison on that source column.
  */
object LakePartitioning {

  /** `_props.json` key holding the spec string, e.g.
    * `"bucket(8,o_custkey),days(o_orderdate)"`.
    */
  val SpecKey = "partition.spec"

  /** Hash seed for `bucket` — fixed forever: bucket assignments are
    * burned into data layout, so the function can never change (the
    * same contract Iceberg pins in its spec).
    */
  private val BucketSeed = 42

  sealed trait PTransform {
    def col: String
    def show: String
  }
  final case class PIdentity(col: String) extends PTransform {
    def show = s"identity($col)"
  }
  final case class PBucket(n: Int, col: String) extends PTransform {
    require(n > 0, s"bucket count must be positive, got $n")
    def show = s"bucket($n,$col)"
  }
  final case class PTruncate(w: Int, col: String) extends PTransform {
    require(w > 0, s"truncate width must be positive, got $w")
    def show = s"truncate($w,$col)"
  }
  final case class PDays(col: String) extends PTransform {
    def show = s"days($col)"
  }
  final case class PMonths(col: String) extends PTransform {
    def show = s"months($col)"
  }
  final case class PYears(col: String) extends PTransform {
    def show = s"years($col)"
  }
  final case class PHours(col: String) extends PTransform {
    def show = s"hours($col)"
  }

  def show(spec: Seq[PTransform]): String = spec.map(_.show).mkString(",")

  private val Re = "([a-z]+)\\(([^)]*)\\)".r

  def parse(s: String): Seq[PTransform] =
    Re.findAllMatchIn(s).map { m =>
      val args = m.group(2).split(",").map(_.trim)
      (m.group(1), args) match {
        case ("identity", Array(c))    => PIdentity(c)
        case ("bucket", Array(n, c))   => PBucket(n.toInt, c)
        case ("truncate", Array(w, c)) => PTruncate(w.toInt, c)
        case ("days", Array(c))        => PDays(c)
        case ("months", Array(c))      => PMonths(c)
        case ("years", Array(c))       => PYears(c)
        case ("hours", Array(c))       => PHours(c)
        case (name, a) => throw new IllegalArgumentException(
          s"unknown partition transform $name(${a.mkString(",")})")
      }
    }.toSeq

  /** Historical-specs property: a JSON-free `;`-separated list of spec
    * strings, index = SPEC ID. PARTITION EVOLUTION appends a new spec
    * instead of rewriting files: every data file's tuple records the
    * spec id it was written under (`s<id>` version slot), so one table
    * can carry vintages of several layouts and each file prunes by ITS
    * OWN spec — Iceberg's spec-evolution model. `partition.spec` stays
    * the CURRENT spec (what new writes use and `partitioning()`
    * reports).
    */
  val SpecsKey = "partition.specs"

  /** The table's CURRENT spec, empty for unpartitioned tables. */
  def specOf(dir: String): Seq[PTransform] =
    LakeTableIO.tableProps(dir).get(SpecKey)
      .map(parse).getOrElse(Seq.empty)

  /** All specs ever active, oldest first; the last is current. A table
    * that never evolved has exactly one (or none if unpartitioned).
    */
  def specsOf(dir: String): IndexedSeq[Seq[PTransform]] = {
    val props = LakeTableIO.tableProps(dir)
    props.get(SpecsKey) match {
      // -1 keeps trailing empties: an UNPARTITION evolution step is the
      // empty spec, and dropping it from the list would renumber ids
      case Some(s) => s.split(";", -1).toIndexedSeq.map(parse)
      case None => props.get(SpecKey).map(parse).toIndexedSeq
    }
  }

  def showSpecs(specs: Seq[Seq[PTransform]]): String =
    specs.map(show).mkString(";")

  /** Bind every historical spec against the current schema. A DROPPED
    * PARTITION FIELD's source column may survive only in old specs —
    * binding stays possible because source columns can never be
    * dropped while ANY spec references them (guarded at ALTER).
    */
  def bindAll(specs: Seq[Seq[PTransform]],
              schema: org.apache.spark.sql.types.StructType)
      : IndexedSeq[Seq[Bound]] =
    specs.map(bind(_, schema)).toIndexedSeq

  // ---------------------------------------------------------------------
  // Versioned tuples: manifest form is ["s<specId>", slot, slot, ...];
  // a tuple WITHOUT the version slot reads as spec 0 (pre-evolution
  // vintage of a never-evolved table).
  // ---------------------------------------------------------------------

  def versionedTuple(specId: Int, slots: Seq[String]): Seq[String] =
    s"s$specId" +: slots

  /** (specId, slots) of a stored tuple. */
  def splitTuple(t: Seq[String]): (Int, Seq[String]) =
    t.headOption match {
      case Some(h) if h.length > 1 && h.charAt(0) == 's' &&
          h.drop(1).forall(_.isDigit) => (h.drop(1).toInt, t.tail)
      case _ => (0, t)
    }

  /** The bound spec a stored tuple was written under, when resolvable
    * and arity-consistent; None keeps the file conservatively.
    */
  def layoutOf(t: Seq[String], specs: IndexedSeq[Seq[Bound]])
      : Option[(Seq[Bound], Seq[String])] = {
    val (id, slots) = splitTuple(t)
    if (id < specs.length && specs(id).length == slots.length)
      Some((specs(id), slots))
    else None
  }

  /** One transform BOUND to a write/table schema: source ordinal and
    * type resolved, evaluator specialized. Fails loud when the source
    * column is absent or its type does not admit the transform — a
    * partition value silently computed from the wrong column would be
    * undetectable data misplacement.
    */
  final case class Bound(t: PTransform, srcIdx: Int, srcType: DataType) {
    /** Transform OUTPUT type (what partition keys/prune compares use). */
    val outType: DataType = t match {
      case _: PIdentity => srcType
      case _: PTruncate => srcType
      case _: PBucket   => IntegerType
      case _            => IntegerType // days/months/years ordinals
    }

    /** Order-preserving in the source column (so range filters
      * translate); bucket is the one hash transform (equality only).
      */
    val monotonic: Boolean = !t.isInstanceOf[PBucket]

    private def epochDays(v: Any): Int = (srcType, v) match {
      case (DateType, d: Int) => d
      case (TimestampType | TimestampNTZType, micros: Long) =>
        Math.floorDiv(micros, 86400000000L).toInt
      case _ => throw new IllegalStateException(
        s"${t.show}: unexpected value $v for $srcType")
    }

    /** Apply to an INTERNAL value (Int/Long/UTF8String; null-safe). */
    def eval(v: Any): Any =
      if (v == null) null
      else t match {
        case _: PIdentity => v
        case PBucket(n, _) =>
          val h = v match {
            case i: Int  => Murmur3_x86_32.hashInt(i, BucketSeed)
            case l: Long => Murmur3_x86_32.hashLong(l, BucketSeed)
            case u: UTF8String =>
              val b = u.getBytes
              Murmur3_x86_32.hashUnsafeBytes(
                b, Platform.BYTE_ARRAY_OFFSET, b.length, BucketSeed)
            case other => throw new IllegalStateException(
              s"bucket: unhashable value class ${other.getClass}")
          }
          Math.floorMod(h, n)
        case PTruncate(w, _) => v match {
          case u: UTF8String => u.substring(0, w)
          case i: Int        => Math.floorDiv(i, w) * w
          case l: Long       => Math.floorDiv(l, w.toLong) * w.toLong
          case other => throw new IllegalStateException(
            s"truncate: untruncatable value class ${other.getClass}")
        }
        case _: PDays => epochDays(v)
        case _: PMonths =>
          val d = java.time.LocalDate.ofEpochDay(epochDays(v).toLong)
          (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
        case _: PYears =>
          java.time.LocalDate.ofEpochDay(epochDays(v).toLong)
            .getYear - 1970
        case _: PHours =>
          Math.floorDiv(v.asInstanceOf[Long], 3600000000L).toInt
      }

    /** Row-level tuple slot: value at `srcIdx + off` transformed. */
    def evalRow(row: org.apache.spark.sql.catalyst.InternalRow,
                off: Int): Any =
      if (row.isNullAt(srcIdx + off)) null
      else eval(row.get(srcIdx + off, srcType))

    /** EXACT transform: the tuple value determines every row's source
      * value (identity, and days over DATE where the ordinal IS the
      * value) — all comparisons decide precisely.
      */
    val exact: Boolean = t match {
      case _: PIdentity => true
      case _: PDays     => srcType == DateType
      case _            => false
    }

    private val DayMicros = 86400000000L

    /** Is `v` (internal) the SMALLEST source value of its partition?
      * What lets `src >= v` fully cover the boundary partition — the
      * strict-projection boundary case (Iceberg's Projections.strict).
      */
    def isFloorOf(v: Any): Boolean = t match {
      case _: PIdentity => true
      case _: PBucket   => false
      case PTruncate(w, _) => v match {
        case i: Int        => Math.floorMod(i, w) == 0
        case l: Long       => Math.floorMod(l, w.toLong) == 0L
        case u: UTF8String => u.numChars <= w
        case _             => false
      }
      case _: PHours =>
        Math.floorMod(v.asInstanceOf[Long], 3600000000L) == 0L
      case _ =>
        val midnight = srcType == DateType ||
          Math.floorMod(v.asInstanceOf[Long], DayMicros) == 0L
        lazy val d = java.time.LocalDate.ofEpochDay(epochDays(v).toLong)
        t match {
          case _: PDays   => midnight
          case _: PMonths => midnight && d.getDayOfMonth == 1
          case _          => midnight && d.getDayOfYear == 1
        }
    }

    /** Is `v` the LARGEST source value of its partition? (`src <= v`
      * then fully covers the boundary partition.)
      */
    def isCeilOf(v: Any): Boolean = t match {
      case _: PIdentity => true
      case _: PBucket   => false
      case PTruncate(w, _) => v match {
        case i: Int  => Math.floorMod(i, w) == w - 1
        case l: Long => Math.floorMod(l, w.toLong) == w - 1L
        case _       => false // strings: every prefix extends upward
      }
      case _: PHours =>
        Math.floorMod(v.asInstanceOf[Long], 3600000000L) == 3600000000L - 1
      case _ =>
        val lastMicro = srcType != DateType &&
          Math.floorMod(v.asInstanceOf[Long], DayMicros) == DayMicros - 1
        val dayCeil = srcType == DateType || lastMicro
        lazy val d = java.time.LocalDate.ofEpochDay(epochDays(v).toLong)
        t match {
          case _: PDays   => dayCeil
          case _: PMonths => dayCeil && d.getDayOfMonth == d.lengthOfMonth
          case _          => dayCeil && d.getDayOfYear == d.lengthOfYear
        }
    }
  }

  /** Bind `spec` against a schema by (case-insensitive) source-column
    * name. The admitted source types per transform are exactly the
    * kinds the lake's physical model makes stable:
    * identity over int/long/string/date, bucket over
    * int/long/string/date/timestamp, truncate over int/long/string,
    * time transforms over date/timestamp.
    */
  def bind(spec: Seq[PTransform], schema: StructType): Seq[Bound] =
    spec.map { t =>
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(t.col))
      require(idx >= 0,
        s"partition transform ${t.show}: source column ${t.col} is " +
          s"missing from schema [${schema.fieldNames.mkString(",")}]")
      val st = schema.fields(idx).dataType
      val ok = t match {
        case _: PIdentity =>
          Seq(IntegerType, LongType, StringType, DateType).contains(st)
        case _: PBucket =>
          Seq(IntegerType, LongType, StringType, DateType,
            TimestampType, TimestampNTZType).contains(st)
        case _: PTruncate =>
          Seq(IntegerType, LongType, StringType).contains(st)
        case _: PHours =>
          Seq(TimestampType, TimestampNTZType).contains(st)
        case _ =>
          Seq(DateType, TimestampType, TimestampNTZType).contains(st)
      }
      require(ok,
        s"partition transform ${t.show} does not admit source type $st")
      Bound(t, idx, st)
    }

  // ---------------------------------------------------------------------
  // Tuple encoding (manifest form): "n" = null slot, "v<canonical>" =
  // value. Unambiguous for any string content (the prefix is the tag).
  // ---------------------------------------------------------------------

  def encodeSlot(v: Any): String = v match {
    case null           => "n"
    case u: UTF8String  => "v" + u.toString
    case other          => "v" + other.toString
  }

  /** Decode a slot back to the transform's INTERNAL output value.
    * Total: an unknown encoding OR an unparseable body yields None
    * (pruning keeps such files conservatively; [[allDecided]] treats
    * them as undecided so consumed filters fail loud, never wrong).
    */
  def decodeSlot(b: Bound, s: String): Option[Any] =
    if (s == "n") Some(null)
    else if (!s.startsWith("v")) None // unknown vintage encoding: opaque
    else {
      val body = s.substring(1)
      try b.outType match {
        case IntegerType | DateType => Some(body.toInt)
        case LongType | TimestampType | TimestampNTZType =>
          Some(body.toLong)
        case StringType => Some(UTF8String.fromString(body))
        case _          => None
      } catch { case _: NumberFormatException => None }
    }

  def encodeTuple(values: Seq[Any]): Seq[String] = values.map(encodeSlot)

  // ---------------------------------------------------------------------
  // Partition pruning: pushed comparison filters on SOURCE columns vs
  // each file's tuple. Exact (not approximate): identity compares
  // directly, monotonic transforms compare through the transform,
  // bucket admits equality. Anything uncertain keeps the file.
  // ---------------------------------------------------------------------

  /** Lift a pushed-filter literal (external form) to the column's
    * INTERNAL value; None = unconvertible (keep files).
    */
  private def liftLiteral(v: Any, srcType: DataType): Option[Any] =
    (v, srcType) match {
      case (i: Int, IntegerType)     => Some(i)
      case (l: Long, LongType)       => Some(l)
      case (i: Int, LongType)        => Some(i.toLong)
      case (l: Long, IntegerType) =>
        if (l == l.toInt.toLong) Some(l.toInt) else None
      case (s: String, StringType)   => Some(UTF8String.fromString(s))
      case (d: java.sql.Date, DateType) =>
        Some(d.toLocalDate.toEpochDay.toInt)
      case (d: java.time.LocalDate, DateType) =>
        Some(d.toEpochDay.toInt)
      case (t: java.sql.Timestamp, TimestampType) =>
        Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case (t: java.time.Instant, TimestampType) =>
        Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case (t: java.time.LocalDateTime, TimestampNTZType) =>
        Some(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
          1000000L +
          t.getNano / 1000L)
      case _ => None
    }

  private def cmpOut(t: DataType, a: Any, b: Any): Option[Int] =
    (t, a, b) match {
      case (_, null, _) | (_, _, null) => None
      case (IntegerType | DateType, x: Int, y: Int) =>
        Some(Integer.compare(x, y))
      case (LongType | TimestampType | TimestampNTZType,
            x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (StringType, x: UTF8String, y: UTF8String) =>
        Some(x.compareTo(y))
      case _ => None
    }

  /** Can a file whose tuple slot (for `b`) decodes to `slot` contain a
    * row satisfying `f` on the source column? Conservative: true unless
    * provably not.
    */
  /** `col <=> lit` with a non-null literal IS `col = lit`; with a null
    * literal it names exactly the null partition. Spark sends the
    * null-safe form for static `PARTITION (p = v)` specs.
    */
  private def normalize(f: Filter): Filter = f match {
    case EqualNullSafe(c, v) if v != null => EqualTo(c, v)
    case other                            => other
  }

  /** The comparison literal of a single-bound shape; None for every
    * other filter. Shared by [[slotMightMatch]] / [[slotMustMatch]] /
    * [[decidesExactly]] so the trio can never diverge on which shapes
    * they admit — the might ≡ must equivalence consumption rests on.
    */
  private def litOf(f: Filter): Option[Any] = f match {
    case EqualTo(_, v)            => Some(v)
    case GreaterThan(_, v)        => Some(v)
    case GreaterThanOrEqual(_, v) => Some(v)
    case LessThan(_, v)           => Some(v)
    case LessThanOrEqual(_, v)    => Some(v)
    case _                        => None
  }

  private def slotMightMatch(b: Bound, slot: String, f0: Filter): Boolean = {
    val f = normalize(f0)
    f match {
      case EqualNullSafe(_, null) => return slot == "n"
      // null-ness is EXACT from the tuple: the writer splits rows per
      // tuple, so a "n" slot means every row's source is null and any
      // other slot means none is
      case org.apache.spark.sql.sources.IsNull(_) =>
        return slot == "n"
      case org.apache.spark.sql.sources.IsNotNull(_) =>
        return slot != "n"
      case org.apache.spark.sql.sources.In(c, vs) =>
        val nn = vs.filter(_ != null)
        return nn.nonEmpty &&
          nn.exists(v => slotMightMatch(b, slot, EqualTo(c, v)))
      case _                      => ()
    }
    val lit = litOf(f).getOrElse(return true)
    val internal = liftLiteral(lit, b.srcType).getOrElse(return true)
    val p = decodeSlot(b, slot).getOrElse(return true)
    // a null slot means every row's source value is null in this file —
    // comparisons never match null
    if (p == null) return false
    val tLit = b.eval(internal)
    val c = cmpOut(b.outType, p, tLit).getOrElse(return true)
    f match {
      case _: EqualTo => c == 0
      case _: GreaterThan =>
        if (!b.monotonic) true
        // exact transforms compare precisely; other monotonic ones
        // collapse ranges, so the boundary tuple can still hold
        // strictly-greater rows — unless the literal is the
        // partition's CEILING (then every row of it is <= the literal)
        else if (b.exact) c > 0
        else c > 0 || (c == 0 && !b.isCeilOf(internal))
      case _: GreaterThanOrEqual => !b.monotonic || c >= 0
      case _: LessThan =>
        if (!b.monotonic) true
        else if (b.exact) c < 0
        // boundary: a literal at the partition's FLOOR leaves no room
        // below it inside that partition
        else c < 0 || (c == 0 && !b.isFloorOf(internal))
      case _: LessThanOrEqual => !b.monotonic || c <= 0
      case _ => true
    }
  }

  /** Do ALL rows of a file with tuple slot `slot` (for `b`) satisfy
    * `f`? The dual of [[slotMightMatch]] — identity is exact, a
    * monotonic transform proves STRICT comparisons one tuple away from
    * the boundary (p > t(L) ⇒ every row > L, by monotonicity), bucket
    * proves nothing. False on any uncertainty.
    */
  private def slotMustMatch(b: Bound, slot: String, f0: Filter): Boolean = {
    val f = normalize(f0)
    f match {
      // a null slot means EVERY row's source is null: <=> NULL holds
      case EqualNullSafe(_, null) => return slot == "n"
      case org.apache.spark.sql.sources.IsNull(_) =>
        return slot == "n"
      case org.apache.spark.sql.sources.IsNotNull(_) =>
        return slot != "n"
      case org.apache.spark.sql.sources.In(c, vs) =>
        // all rows share the tuple; exact transforms prove membership
        // when some value's partition IS this one
        return vs.filter(_ != null)
          .exists(v => slotMustMatch(b, slot, EqualTo(c, v)))
      case _                      => ()
    }
    val lit = litOf(f).getOrElse(return false)
    val internal = liftLiteral(lit, b.srcType).getOrElse(return false)
    val p = decodeSlot(b, slot).getOrElse(return false)
    if (p == null) return false // null rows fail every comparison
    if (!b.monotonic) return false // bucket: no row-level proof
    val c = cmpOut(b.outType, p, b.eval(internal)).getOrElse(return false)
    // boundary partitions decide when the literal sits ON the boundary
    // (the strict-projection rule): `src >= 2024-02-01` fully covers
    // the February months() partition because Feb 1 is its floor
    f match {
      case _: EqualTo            => b.exact && c == 0
      case _: GreaterThan        => c > 0
      case _: GreaterThanOrEqual =>
        c > 0 || (c == 0 && b.isFloorOf(internal))
      case _: LessThan           => c < 0
      case _: LessThanOrEqual    =>
        c < 0 || (c == 0 && b.isCeilOf(internal))
      case _                     => false
    }
  }

  /** Partition-aligned OVERWRITE coverage: which of `files` are FULLY
    * covered by the conjunction of `filters` (remove), which provably
    * contain NO matching row (keep) — and fail loud on any file the
    * tuples cannot decide, because a static overwrite that rewrites
    * half a file is data loss. Right = file names to remove; Left = a
    * message naming the first undecidable (file, filter).
    */
  def overwriteCoverage(files: Seq[String],
                        parts: Map[String, Seq[String]],
                        specs: IndexedSeq[Seq[Bound]],
                        filters: Array[Filter])
      : Either[String, Seq[String]] = {
    val byColBySpec: IndexedSeq[Map[String, Seq[(Bound, Int)]]] =
      specs.map(_.zipWithIndex.groupBy(_._1.t.col.toLowerCase))
    val removed = Seq.newBuilder[String]
    files.foreach { file =>
      val stored = parts.getOrElse(file, return Left(
        s"file $file carries no partition tuple — a pre-partitioning " +
          "vintage cannot be overwritten by filter; compact first"))
      val (specId, tuple) = splitTuple(stored)
      if (layoutOf(stored, specs).isEmpty) return Left(
        s"file $file has an unresolvable partition layout " +
          s"(spec $specId of ${specs.length})")
      val byCol = byColBySpec(specId)
      // per filter: must (all rows), might (any row) — judged against
      // the spec THIS file was written under
      val decisions = filters.map { f =>
        val bs = filterColumn(f).map(_.toLowerCase).flatMap(byCol.get)
          .getOrElse(return Left(
            s"overwrite condition $f is not on a partition source " +
              s"column of spec $specId — not partition-aligned for " +
              s"file $file"))
        val must = bs.exists { case (b, i) => slotMustMatch(b, tuple(i), f) }
        val might = bs.forall { case (b, i) =>
          slotMightMatch(b, tuple(i), f)
        }
        (must, might)
      }
      if (decisions.forall(_._1)) removed += file
      else if (decisions.exists(!_._2)) () // provably untouched: keep
      else return Left(
        s"overwrite condition ${filters.mkString(" AND ")} splits file " +
          s"$file (tuple ${tuple.mkString("[", ",", "]")}) — the " +
          "condition must align with partition boundaries")
    }
    Right(removed.result())
  }

  private def filterColumn(f: Filter): Option[String] = f match {
    case EqualTo(c, _)            => Some(c)
    case EqualNullSafe(c, _)      => Some(c)
    case GreaterThan(c, _)        => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _)           => Some(c)
    case LessThanOrEqual(c, _)    => Some(c)
    case org.apache.spark.sql.sources.In(c, _)        => Some(c)
    case org.apache.spark.sql.sources.IsNull(c)       => Some(c)
    case org.apache.spark.sql.sources.IsNotNull(c)    => Some(c)
    case _                        => None
  }

  /** Partition-prune `files`: drop every file whose manifest tuple
    * provably excludes some pushed filter — resolved per file against
    * the SPEC IT WAS WRITTEN UNDER (partition evolution leaves mixed
    * vintages in one snapshot). Files without a tuple (legacy
    * vintages, bootstrap sweeps) or with an unresolvable layout are
    * always kept. Returns (kept files, pruned count).
    */
  def prune(files: Seq[org.apache.hadoop.fs.Path],
            parts: Map[String, Seq[String]],
            specs: IndexedSeq[Seq[Bound]],
            pushed: Array[Filter])
      : (Seq[org.apache.hadoop.fs.Path], Int) = {
    if (specs.isEmpty || pushed.isEmpty || parts.isEmpty)
      return (files, 0)
    // per spec: filter → the transforms on its column
    val relevantBySpec: IndexedSeq[Array[(Filter, Seq[(Bound, Int)])]] =
      specs.map { bound =>
        val byCol = bound.zipWithIndex
          .groupBy(_._1.t.col.toLowerCase)
        pushed.flatMap(f =>
          filterColumn(f).map(_.toLowerCase).flatMap(byCol.get)
            .map(bs => (f, bs)))
      }
    if (relevantBySpec.forall(_.isEmpty)) return (files, 0)
    val kept = files.filter(file =>
      judgeTuple(parts.get(file.getName), specs, relevantBySpec))
    (kept, files.size - kept.size)
  }

  // ---------------------------------------------------------------------
  // EXPLICIT transform predicates (V2 pushdown): a user-written
  // `bucket(8, k) = 3` / `years(ts) = 54` over the catalog's own bound
  // functions. The V1 Filter API cannot carry these (no function-call
  // shape), but SupportsPushDownV2Filters delivers them as
  // UserDefinedScalarFunc equality predicates — recognized into this
  // form and pruned against the manifest tuples directly: the
  // predicate compares the transform OUTPUT, which is exactly what a
  // file's tuple slot stores.
  // ---------------------------------------------------------------------

  /** One recognized transform-equality predicate: function name
    * (lower-case), its width/bucket-count parameter (None for the time
    * transforms), the source column, and the expected transform OUTPUT
    * in Catalyst internal form (Int/Long/UTF8String — V2 LiteralValue
    * carries internal values). Always RESIDUAL: pruning is best-effort
    * per file (Spark keeps its Filter node and re-evaluates rows), so
    * correctness never rides on it — mixed spec vintages and tuple-less
    * files are simply kept.
    */
  final case class TransformPred(fn: String, param: Option[Int],
                                 col: String, value: Any,
                                 shown: String)

  private def boundMatches(b: Bound, tp: TransformPred): Boolean =
    (b.t, tp.fn, tp.param) match {
      case (PBucket(n, c), "bucket", Some(p)) =>
        n == p && c.equalsIgnoreCase(tp.col)
      case (PTruncate(w, c), "truncate", Some(p)) =>
        w == p && c.equalsIgnoreCase(tp.col)
      case (PDays(c), "days", None)     => c.equalsIgnoreCase(tp.col)
      case (PMonths(c), "months", None) => c.equalsIgnoreCase(tp.col)
      case (PYears(c), "years", None)   => c.equalsIgnoreCase(tp.col)
      case (PHours(c), "hours", None)   => c.equalsIgnoreCase(tp.col)
      case _ => false
    }

  /** Internal-value equality with int/long widening (a predicate
    * literal may arrive narrower than the transform output).
    */
  private def eqInternal(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Int, y: Long)  => x.toLong == y
    case (x: Long, y: Int)  => x == y.toLong
    case _                  => a == b
  }

  /** Prune `files` against recognized transform predicates: a file is
    * dropped when its own layout carries the SAME transform (name +
    * parameter + source column) and the decoded slot provably differs
    * from the predicate's expected output (a null slot differs too —
    * the transform of a null source is null, never equal to the
    * non-null literal). Anything undecidable — no tuple, foreign
    * layout, undecodable slot, transform absent from the file's
    * vintage — keeps the file (the predicate stays residual).
    */
  def pruneTransform(files: Seq[org.apache.hadoop.fs.Path],
                     parts: Map[String, Seq[String]],
                     specs: IndexedSeq[Seq[Bound]],
                     tps: Seq[TransformPred])
      : (Seq[org.apache.hadoop.fs.Path], Int) = {
    if (specs.isEmpty || tps.isEmpty || parts.isEmpty) return (files, 0)
    def keeps(file: org.apache.hadoop.fs.Path): Boolean = {
      val layout = parts.get(file.getName)
        .flatMap(layoutOf(_, specs)).getOrElse(return true)
      val (bounds, slots) = layout
      tps.forall { tp =>
        bounds.zipWithIndex.find(bi => boundMatches(bi._1, tp)) match {
          case None => true // vintage lacks the transform: keep
          case Some((b, i)) => decodeSlot(b, slots(i)) match {
            case Some(null) => false // null output ≠ non-null literal
            case Some(v)    => eqInternal(v, tp.value)
            case None       => true // undecodable: keep
          }
        }
      }
    }
    val kept = files.filter(keeps)
    (kept, files.size - kept.size)
  }

  /** Is `f`'s truth value decided EXACTLY by a file's partition tuple
    * under EVERY spec vintage? True requires a single-column filter
    * whose (shape, literal) pair some transform on the column decides
    * EXACTLY — i.e. [[slotMightMatch]] ≡ [[slotMustMatch]] for every
    * possible tuple slot, per [[decidesExactly]]:
    *
    *   - EXACT transforms (identity; days over DATE): every supported
    *     shape — a file's rows are homogeneous in the transform OUTPUT
    *     and the output determines the source value;
    *   - MONOTONIC transforms (truncate, days/months/years/hours) —
    *     Spark's hidden-partitioning rewrites land here: a range
    *     comparison whose literal sits ON the partition boundary the
    *     comparison needs (`d >= 2024-02-01` under `months(d)` — the
    *     floor; `d <= 2024-02-29` — the ceiling). Then every partition
    *     is wholly inside or wholly outside the range;
    *   - ANY transform: IS NULL / IS NOT NULL / `<=> NULL` — the
    *     writer maps a null source to the null slot under every
    *     transform kind, so null-ness is always tuple-exact.
    *
    * One deciding transform per vintage suffices: files are KEPT only
    * when every bound on the column might-match, might ≡ must on the
    * deciding bound makes every kept file all-rows-matching, and the
    * other bounds only prune files that provably cannot match.
    *
    * This is the soundness test for CONSUMING a pushed filter (the
    * scan enforces it; Spark drops its Filter node): consumption
    * additionally requires every file in the snapshot to carry a tuple
    * — the caller proves that from the manifest skeleton.
    */
  def exactlyDecidable(specs: IndexedSeq[Seq[Bound]], f: Filter): Boolean = {
    if (specs.isEmpty) return false
    val c = filterColumn(f).getOrElse(return false).toLowerCase
    specs.forall(_.exists(b =>
      b.t.col.toLowerCase == c && decidesExactly(b, f)))
  }

  /** Does transform `b` decide `f` exactly — might-match ≡ must-match
    * for every slot value? The analytic derivation from the
    * [[slotMightMatch]]/[[slotMustMatch]] pair (exact bounds have
    * constant-true floor/ceiling predicates, so one rule covers both
    * tiers). Null slots compare-false on both sides of every
    * comparison, so only the boundary cases matter.
    */
  private def decidesExactly(b: Bound, f0: Filter): Boolean = {
    val f = normalize(f0)
    f match {
      // null-ness is tuple-exact under EVERY transform: the writer
      // splits rows per tuple and a null source maps to the null slot
      case org.apache.spark.sql.sources.IsNull(_)    => return true
      case org.apache.spark.sql.sources.IsNotNull(_) => return true
      case EqualNullSafe(_, null)                    => return true
      case org.apache.spark.sql.sources.In(c, vs) =>
        // membership = a disjunction of equalities: each non-null
        // value must decide (null IN-values drop out under 3VL; an
        // empty/all-null list is the constant FALSE — decided anywhere)
        val nn = vs.filter(_ != null)
        return nn.forall(v => decidesExactly(b, EqualTo(c, v)))
      case _ => ()
    }
    val lit = litOf(f).getOrElse(return false)
    val internal = liftLiteral(lit, b.srcType).getOrElse(return false)
    f match {
      // equality needs the output to determine the source value
      case _: EqualTo => b.exact
      // strict-projection boundary rule: `>= L` / `< L` split cleanly
      // exactly when L is its partition's FLOOR, `> L` / `<= L` when
      // L is the CEILING (for exact transforms both predicates are
      // constantly true, so identity/days-DATE admit any literal)
      case _: GreaterThanOrEqual => b.monotonic && b.isFloorOf(internal)
      case _: LessThan           => b.monotonic && b.isFloorOf(internal)
      case _: GreaterThan        => b.monotonic && b.isCeilOf(internal)
      case _: LessThanOrEqual    => b.monotonic && b.isCeilOf(internal)
      case _                     => false
    }
  }

  private def judgeTuple(
      tuple: Option[Seq[String]], specs: IndexedSeq[Seq[Bound]],
      relevantBySpec: IndexedSeq[Array[(Filter, Seq[(Bound, Int)])]])
      : Boolean =
    tuple.flatMap(t => layoutOf(t, specs).map(l =>
      (splitTuple(t)._1, l))) match {
      case Some((specId, (_, slots))) =>
        relevantBySpec(specId).forall { case (f, bs) =>
          bs.forall { case (b, i) => slotMightMatch(b, slots(i), f) }
        }
      case _ => true // tuple-less or unresolvable vintage: keep
    }

  /** Runtime (DPP) membership: can a file with `tuple` contain ANY of
    * `values` (INTERNAL form) in source column `col`? Conservative —
    * true unless every value is provably excluded by some transform on
    * that column, resolved against the file's OWN spec. Zero I/O.
    */
  def tupleMightContainAny(specs: IndexedSeq[Seq[Bound]],
                           tuple0: Seq[String], col: String,
                           values: Seq[Any]): Boolean = {
    val (bound, tuple) = layoutOf(tuple0, specs).getOrElse(return true)
    val bs = bound.zipWithIndex.filter(_._1.t.col.equalsIgnoreCase(col))
    if (bs.isEmpty || tuple.length != bound.length) return true
    // coerce a runtime value to the source column's internal type —
    // a widened join key (Long vs INT column) must hash/compare as the
    // column's own type; Some(None) = provably not a column value
    def coerce(v: Any, t: DataType): Option[Option[Any]] = (v, t) match {
      case (i: Int, IntegerType | DateType)   => Some(Some(i))
      case (l: Long, LongType |
            TimestampType | TimestampNTZType) => Some(Some(l))
      case (i: Int, LongType)                 => Some(Some(i.toLong))
      case (l: Long, IntegerType) =>
        Some(if (l == l.toInt.toLong) Some(l.toInt) else None)
      case (u: UTF8String, StringType)        => Some(Some(u))
      case (s: String, StringType) =>
        Some(Some(UTF8String.fromString(s)))
      case _                                  => None // unknown: keep
    }
    values.exists { v =>
      bs.forall { case (b, i) =>
        val slot = tuple(i)
        if (v == null) slot == "n"
        else if (slot == "n") false
        else coerce(v, b.srcType) match {
          case None             => true // unconvertible: conservative
          case Some(None)       => false // out of the column's range
          case Some(Some(cv)) =>
            (for {
              p <- decodeSlot(b, slot)
              c <- cmpOut(b.outType, p, b.eval(cv))
            } yield c == 0).getOrElse(true)
        }
      }
    }
  }

  /** True when a snapshot can report KeyGroupedPartitioning: every
    * planned file was written under the CURRENT spec (mixed evolution
    * vintages cannot co-group).
    */
  def fullyTupled(files: Seq[org.apache.hadoop.fs.Path],
                  parts: Map[String, Seq[String]],
                  specs: IndexedSeq[Seq[Bound]]): Boolean =
    specs.nonEmpty && specs.last.nonEmpty && files.forall(f =>
      parts.get(f.getName).exists { t =>
        val (id, slots) = splitTuple(t)
        id == specs.length - 1 && slots.length == specs.last.length
      })

  /** Every file carries a tuple whose layout resolves against a known
    * spec vintage AND whose every slot decodes — the runtime
    * precondition for CONSUMED filters: a missing/unresolvable tuple
    * OR an undecodable slot (foreign encoding, corrupt body) is kept
    * conservatively by [[prune]], which would leak rows past a filter
    * Spark no longer re-applies.
    */
  def allDecided(files: Seq[org.apache.hadoop.fs.Path],
                 parts: Map[String, Seq[String]],
                 specs: IndexedSeq[Seq[Bound]]): Boolean =
    files.forall(f => parts.get(f.getName)
      .exists(t => layoutOf(t, specs).exists { case (bound, slots) =>
        bound.zip(slots).forall { case (b, s) =>
          decodeSlot(b, s).isDefined
        }
      }))

  /** Current-spec slots of a stored tuple (only call under
    * [[fullyTupled]]).
    */
  def currentSlots(t: Seq[String]): Seq[String] = splitTuple(t)._2

  // ---------------------------------------------------------------------
  // Connector Transform bridge (CREATE TABLE PARTITIONED BY / Table
  // .partitioning() / KeyGroupedPartitioning expressions)
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.connector.expressions.{Expression, Expressions, Literal => VLiteral, NamedReference, Transform}

  private def refName(e: Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }
  private def intLit(e: Expression): Option[Int] = e match {
    case l: VLiteral[_] => l.value match {
      case i: java.lang.Integer => Some(i.intValue())
      case i: java.lang.Long    => Some(i.intValue())
      case _                    => None
    }
    case _ => None
  }

  /** Parse Spark's `PARTITIONED BY (...)` transforms. Fails loud on
    * anything outside the supported set.
    */
  def fromTransforms(ts: Array[Transform]): Seq[PTransform] =
    ts.toSeq.map { t =>
      def oneRef: String = {
        val rs = t.arguments.flatMap(refName)
        require(rs.length == 1,
          s"partition transform ${t.describe} needs exactly one column")
        rs.head
      }
      def oneInt: Int = {
        val is = t.arguments.flatMap(intLit)
        require(is.length == 1,
          s"partition transform ${t.describe} needs one integer arg")
        is.head
      }
      t.name.toLowerCase match {
        case "identity" => PIdentity(oneRef)
        case "bucket"   => PBucket(oneInt, oneRef)
        case "truncate" => PTruncate(oneInt, oneRef)
        case "days"     => PDays(oneRef)
        case "months"   => PMonths(oneRef)
        case "years"    => PYears(oneRef)
        case "hours"    => PHours(oneRef)
        case other => throw new UnsupportedOperationException(
          s"graft_lake: unsupported partition transform '$other' " +
            "(supported: identity, bucket, truncate, days, months, " +
            "years, hours)")
      }
    }

  /** The spec as connector Transforms ([[LakeTable.partitioning]] and
    * the scan's KeyGroupedPartitioning clustering expressions).
    */
  def toTransforms(spec: Seq[PTransform]): Array[Transform] =
    spec.map {
      case PIdentity(c)    => Expressions.identity(c)
      case PBucket(n, c)   => Expressions.bucket(n, c)
      case PTruncate(w, c) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(c))
      case PDays(c)        => Expressions.days(c)
      case PMonths(c)      => Expressions.months(c)
      case PYears(c)       => Expressions.years(c)
      case PHours(c)       => Expressions.hours(c)
    }.toArray
}
