package graft.sources.dsv2

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `CALL system.analyze('db.t')` — backfill the WRITE-TIME facts for
  * files that lack them, from their immutable bytes:
  *
  *   - exact (sum, abs-sum) per exact-numeric column → metadata-only
  *     SUM/AVG ([[LakeTableIO.metaAggregate]]) answers again;
  *   - KMV distinct-count sketches for `stats.ndv.columns` → the CBO
  *     column-statistics report covers every file again;
  *   - bloom filters for `bloom.columns` → point-lookup pruning;
  *   - and for files with NO manifest stats at all (external
  *     bootstrap vintages), the plain footer harvest (rows, bounds,
  *     null counts) that unlocks metadata COUNT/MIN/MAX.
  *
  * Who lacks facts: compaction/zorder/rewrite outputs (plain
  * `df.write` rewrites — correct rows, no harvest), externally-added
  * bootstrap files, and any vintage that predates a knob. Without
  * analyze those files decline the fast paths FOREVER (the strict
  * all-files answerability rules); one table scan restores them.
  *
  * Soundness rules, all conservative:
  *
  *   - facts describe PHYSICAL file contents, but this pass reads LIVE
  *     rows — files carrying deletion vectors are therefore SKIPPED
  *     (rewrite_deletes first, then analyze);
  *   - a column participates only when the file's stats entry exists
  *     under the column's CURRENT name with the kind the table type
  *     implies — the stock reader used here resolves by name, so a
  *     renamed-column legacy file (prior-name resolution) or a foreign
  *     physical encoding is skipped rather than misread;
  *   - the amendment commits through the log's normal retry loop
  *     ([[LakeLog.commit]] `statsAmend`): files replaced concurrently
  *     drop out silently (their stats left with them).
  *
  * Scale shape: ONE distributed scan of only the files needing facts
  * (grouped per file via `_metadata.file_name`), driver collect of
  * O(target files) fact rows, one commit. The same cost class as
  * Delta/Iceberg's ANALYZE/compute-stats actions.
  */
object LakeAnalyze {

  /** KMV sketch accumulator over pre-hashed values: the K smallest
    * DISTINCT hashes in unsigned order, as the writer's builder keeps
    * ([[LakeNdv.Builder]]) — finish() emits the same base64 form.
    */
  final class NdvUdaf(k: Int = LakeNdv.K)
      extends Aggregator[java.lang.Long, Array[Long], String] {
    override def zero: Array[Long] = Array.empty
    override def reduce(b: Array[Long], h: java.lang.Long): Array[Long] =
      if (h == null) b else insert(b, h.longValue())
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      b.foldLeft(a)(insert)
    private def insert(b: Array[Long], h: Long): Array[Long] = {
      // unsigned-sorted array; binary search for membership/slot
      var lo = 0; var hi = b.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Long.compareUnsigned(b(mid), h)
        if (c < 0) lo = mid + 1
        else if (c > 0) hi = mid
        else return b // already present
      }
      if (b.length == k && lo == k) return b // can't enter the bottom-k
      val out = new Array[Long](math.min(k, b.length + 1))
      System.arraycopy(b, 0, out, 0, lo)
      out(lo) = h
      System.arraycopy(b, lo, out, lo + 1,
        math.min(b.length, k - 1) - lo)
      out
    }
    override def finish(b: Array[Long]): String = {
      val bb = java.nio.ByteBuffer.allocate(b.length * 8)
      b.foreach(bb.putLong)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    override def bufferEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: ExpressionEncoder[String] =
      ExpressionEncoder[String]()
  }

  /** Bloom accumulator over the same pre-hashed values: the hash is
    * the writer's (h1, h2) pair recombined, so splitting it back and
    * setting the same double-hash probes yields bit-identical filters.
    */
  final class BloomUdaf(nbits: Int)
      extends Aggregator[java.lang.Long, Array[Long], String] {
    override def zero: Array[Long] = new Array[Long](nbits >> 6)
    override def reduce(b: Array[Long], h: java.lang.Long): Array[Long] = {
      if (h != null) {
        val pair = ((h.longValue() >>> 32).toInt, h.intValue())
        val mask = nbits - 1
        var i = 0
        while (i < LakeBloom.Hashes) {
          val idx = (pair._1 + i * pair._2) & mask
          b(idx >> 6) |= 1L << (idx & 63)
          i += 1
        }
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): String = {
      val bb = java.nio.ByteBuffer.allocate(b.length * 8)
      b.foreach(bb.putLong)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    override def bufferEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: ExpressionEncoder[String] =
      ExpressionEncoder[String]()
  }

  /** Reservoir-sample accumulator over the histogram DOUBLE projection
    * ([[LakeHist]]): buffer slot 0 carries the seen count, the rest
    * the samples. Merge concatenates and uniformly down-samples —
    * approximately algorithm R across partial aggregations of one
    * file's rows (estimate-grade, like the histogram itself).
    */
  final class SampleUdaf(k: Int = LakeHist.K)
      extends Aggregator[java.lang.Double, Array[Double], String] {
    override def zero: Array[Double] = Array(0.0)
    override def reduce(b: Array[Double],
                        v: java.lang.Double): Array[Double] =
      if (v == null) b
      else {
        val n = b(0).toLong
        val out =
          if (b.length - 1 < k) b :+ v.doubleValue()
          else {
            val j = (rnd(b).nextDouble() * (n + 1)).toLong
            if (j < k) b.updated(1 + j.toInt, v.doubleValue()) else b
          }
        out(0) = n + 1
        out
      }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      // WEIGHTED merge: each side contributes slots in proportion to
      // its seen count — a uniform pick over the concatenation would
      // let a 200-row tail partial swamp a million-row partner
      // (unbounded bias toward whichever side happened to be smaller)
      val sa = a.drop(1); val sb = b.drop(1)
      val n = a(0) + b(0)
      val kept =
        if (sa.length + sb.length <= k) sa ++ sb
        else {
          val wa = if (n <= 0) 0.5 else a(0) / n
          val r = new java.util.Random(
            java.lang.Double.doubleToLongBits(n) ^ (sa.length << 16)
              ^ sb.length)
          def pick(src: Array[Double], m: Int): Array[Double] = {
            val idx = r.ints(0, src.length).distinct().limit(m).toArray
            idx.map(src(_))
          }
          val ka = math.min(sa.length, math.round(k * wa).toInt)
          val kb = math.min(sb.length, k - ka)
          pick(sa, ka) ++ pick(sb, kb)
        }
      Array(n) ++ kept
    }
    private def rnd(b: Array[Double]): java.util.Random =
      new java.util.Random(java.lang.Double.doubleToLongBits(b(0))
        ^ 0x9e3779b97f4a7c15L)
    override def finish(b: Array[Double]): String =
      LakeHist.encode(b.drop(1))
    override def bufferEncoder: ExpressionEncoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
    override def outputEncoder: ExpressionEncoder[String] =
      ExpressionEncoder[String]()
  }

  /** Canonical 64-bit hash of an EXTERNAL column value — must equal
    * the writer's internal-value hash bit for bit, which it does by
    * construction: both sides canonicalize through [[LakeBloom]]
    * (hashLiteral ≡ hashInternal on the same logical value; the
    * 32-bit lanes recombine exactly as [[LakeNdv.hash64]]).
    */
  private def hashColumn(dt: DataType, c: Column): Option[Column] = {
    def recomb(p: Option[(Int, Int)]): java.lang.Long = p match {
      case Some((a, b)) =>
        java.lang.Long.valueOf((a.toLong << 32) | (b & 0xffffffffL))
      case None => null
    }
    val longHash = udf((v: java.lang.Long) =>
      if (v == null) null
      else recomb(LakeBloom.hashLiteral(v.longValue())))
    dt match {
      case LongType    => Some(longHash(c))
      case IntegerType => Some(longHash(c.cast(LongType)))
      case StringType  => Some(udf((v: String) =>
        if (v == null) null else recomb(LakeBloom.hashLiteral(v))).apply(c))
      // date/timestamp: convert to the INTERNAL numerics (epoch days /
      // micros) with built-ins first — the writer hashes exactly those,
      // and it sidesteps the java8API-dependent external types a typed
      // UDF would otherwise have to guess
      case DateType =>
        Some(longHash(datediff(c, to_date(lit("1970-01-01")))
          .cast(LongType)))
      case TimestampType => Some(longHash(unix_micros(c)))
      // TIMESTAMP_NTZ externals are ALWAYS java.time.LocalDateTime
      // (the type postdates the java8API split), and hashLiteral's
      // UTC lift equals the internal local-micros encoding exactly
      case TimestampNTZType => Some(udf((v: java.time.LocalDateTime) =>
        if (v == null) null else recomb(LakeBloom.hashLiteral(v))).apply(c))
      case _ => None
    }
  }

  /** Run the backfill; returns (files amended, facts added). */
  def analyze(spark: SparkSession, dir: String): (Int, Int) = {
    val head = LakeLog.current(dir).getOrElse(
      throw new IllegalStateException(s"$dir has no snapshot log"))
    val schema = LakeTableIO.tableSchema(dir)
    // footer harvest for files with no manifest stats at all (external
    // bootstrap vintages): rows/bounds/null-counts — the base the
    // fact amendments hang on
    val missing = head.files.filterNot(head.stats.contains)
    val harvested = LakeStats.harvest(dir, missing)
    val baseStats = head.stats ++ harvested
    val sumCols = schema.fields.filter(f =>
      LakeStats.sumAdmits(f.dataType)).toSeq
    val ndvNames = LakeNdv.configured(dir).map(_.toLowerCase).toSet
    val bloomNames = LakeBloom.configured(dir).map(_.toLowerCase).toSet
    val ndvCols = schema.fields.filter(f =>
      ndvNames(f.name.toLowerCase) && LakeNdv.admits(f.dataType)).toSeq
    val bloomCols = schema.fields.filter(f =>
      bloomNames(f.name.toLowerCase) && LakeBloom.admits(f.dataType)).toSeq
    val lenCols = schema.fields.filter(_.dataType == StringType).toSeq
    val histNames = LakeHist.configured(dir).map(_.toLowerCase).toSet
    val histCols = schema.fields.filter(f =>
      histNames(f.name.toLowerCase) && LakeHist.admits(f.dataType)).toSeq
    // a (file, column) pairs up only when the file's stats entry sits
    // under the CURRENT name with the kind the table type implies —
    // the name-resolving stock reader then decodes the same column the
    // connector would
    def entry(f: String, c: StructField): Option[LakeStats.ColStats] =
      baseStats.get(f).flatMap(_.cols.get(c.name))
    def kindOk(f: String, c: StructField, expect: Option[String]): Boolean =
      expect.exists(k => entry(f, c).exists(_.kind == k))
    def hashKind(dt: DataType): Option[String] = dt match {
      case LongType | TimestampType | TimestampNTZType => Some("long")
      case IntegerType | DateType   => Some("int")
      case StringType               => Some("str")
      case _                        => None
    }
    def histKind(dt: DataType): Option[String] = dt match {
      case LongType | TimestampType | TimestampNTZType => Some("long")
      case IntegerType | DateType   => Some("int")
      case _                        => None
    }
    def needsFacts(f: String): Boolean =
      sumCols.exists(c =>
        kindOk(f, c, LakeTableIO.statKindFor(c.dataType)) &&
          entry(f, c).exists(cs => cs.sum.isEmpty || cs.asum.isEmpty)) ||
      ndvCols.exists(c => kindOk(f, c, hashKind(c.dataType)) &&
        entry(f, c).exists(_.ndv.isEmpty)) ||
      bloomCols.exists(c => kindOk(f, c, hashKind(c.dataType)) &&
        entry(f, c).exists(_.bloom.isEmpty)) ||
      lenCols.exists(c => kindOk(f, c, Some("str")) &&
        entry(f, c).exists(cs => cs.tlen.isEmpty || cs.mlen.isEmpty)) ||
      histCols.exists(c => kindOk(f, c, histKind(c.dataType)) &&
        entry(f, c).exists(_.hsample.isEmpty))
    // DV'd files: live rows != physical facts — skipped (rewrite
    // deletes first). Stats-less-after-harvest files (unreadable)
    // cannot be amended either.
    val targets = head.files.filter(f =>
      !head.dvs.contains(f) && baseStats.contains(f) &&
      // equality deletes: the scan below reads LIVE rows (subtraction
      // applied), but facts describe PHYSICAL contents — a file any
      // live eq ref applies to (or whose add version is unknown under
      // live refs) is skipped, like DV'd files (rewrite_deletes first)
      (head.eqs.isEmpty || (baseStats(f).addV >= 0 &&
        LakeEq.applicable(head.eqs, baseStats(f).addV).isEmpty)) &&
      needsFacts(f))
    if (targets.isEmpty && harvested.isEmpty) return (0, 0)
    // Bounded driver memory: the per-collect fact rows are O(chunk), not
    // O(all stats-less files) — a 10⁶-file bootstrap backfill commits
    // incrementally (one amendment commit per chunk; a killed run
    // resumes where it left because needsFacts re-derives from the new
    // head, and a re-run over already-amended files is a no-op).
    val chunkFiles = spark.conf
      .getOption("spark.graft.analyze.chunkFiles")
      .map(_.toInt).getOrElse(10000)
    require(chunkFiles >= 1,
      s"spark.graft.analyze.chunkFiles must be >= 1, got $chunkFiles")
    var totalFiles = 0
    var totalFacts = 0
    // harvested footer stats for previously stats-less files ride the
    // FIRST commit (alone when there are no fact targets at all)
    var harvestedPending: Map[String, LakeStats.FileStats] = harvested
    def commitAmend(amendments: Map[String, LakeStats.FileStats],
                    facts: Int): Unit = {
      val allAmend = harvestedPending.map { case (f, st) =>
        f -> amendments.getOrElse(f, st)
      } ++ amendments
      if (allAmend.nonEmpty) {
        LakeLog.commit(dir, "analyze", Seq.empty, Seq.empty, 0L,
          dataChange = false, statsAmend = allAmend)
        totalFiles += allAmend.size
        totalFacts += facts + harvestedPending.size
        harvestedPending = Map.empty
      }
    }
    def factsForChunk(chunk: Seq[String])
        : (Map[String, LakeStats.FileStats], Int) = {
        var facts = 0
        // field-id metadata is STRIPPED from the read schema: this pass
        // resolves BY NAME by contract (the kindOk guard above already
        // excludes files whose column names predate a rename), and an
        // id-carrying schema would refuse to read externally-registered
        // id-less files — the exact bootstrap vintages analyze exists
        // to backfill
        val nameSchema = StructType(schema.fields.map(f =>
          f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
        val raw = spark.read.schema(nameSchema)
          .parquet(chunk.map(n => s"$dir/$n"): _*)
          .withColumn("__file", col("_metadata.file_name"))
        val aggs = Seq.newBuilder[Column]
        sumCols.foreach { c =>
          val s = c.dataType match {
            case d: DecimalType => d.scale
            case _              => 0
          }
          // NO coalesce on the sums: a null sum is ambiguous between
          // "all null" (fact 0) and a legacy-mode decimal-38 OVERFLOW
          // (fact unknowable here) — the count disambiguates on the
          // driver, and ANSI mode turns the overflow into a loud abort
          val cast = col(c.name).cast(DecimalType(38, s))
          aggs += sum(cast).as(s"sum__${c.name}")
          aggs += sum(abs(cast)).as(s"asum__${c.name}")
          aggs += count(col(c.name)).as(s"cnt__${c.name}")
        }
        ndvCols.foreach(c => hashColumn(c.dataType, col(c.name)).foreach(h =>
          aggs += udaf(new NdvUdaf(), Encoders.LONG).apply(h)
            .as(s"ndv__${c.name}")))
        lenCols.foreach { c =>
          // byte lengths (octet_length) — the writer counts UTF-8
          // bytes, so the backfilled facts merge coherently
          aggs += coalesce(sum(octet_length(col(c.name))), lit(0L))
            .cast(LongType).as(s"tlen__${c.name}")
          aggs += coalesce(max(octet_length(col(c.name))), lit(0))
            .cast(LongType).as(s"mlen__${c.name}")
        }
        bloomCols.foreach(c => hashColumn(c.dataType, col(c.name)).foreach(h =>
          aggs += udaf(new BloomUdaf(LakeBloom.bits), Encoders.LONG)
            .apply(h).as(s"bloom__${c.name}")))
        histCols.foreach { c =>
          // the writer samples INTERNAL numerics: epoch days for DATE,
          // micros for timestamps — match them exactly
          val d = c.dataType match {
            case DateType =>
              datediff(col(c.name), to_date(lit("1970-01-01")))
                .cast(DoubleType)
            case TimestampType => unix_micros(col(c.name)).cast(DoubleType)
            // NTZ: cast-to-timestamp would reinterpret the wall clock
            // in the SESSION zone, shifting every backfilled sample vs
            // the writer's raw local-micros internals — lift the
            // always-LocalDateTime external at UTC instead (the same
            // care the NDV/bloom hash path takes)
            case TimestampNTZType =>
              udf((v: java.time.LocalDateTime) =>
                if (v == null) null
                else java.lang.Double.valueOf(
                  (v.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
                    1000000L + v.getNano / 1000L).toDouble))
                .apply(col(c.name))
            case _ => col(c.name).cast(DoubleType)
          }
          aggs += udaf(new SampleUdaf(), Encoders.DOUBLE).apply(d)
            .as(s"hist__${c.name}")
        }
        val aggList = aggs.result()
        if (aggList.isEmpty) return (Map.empty, 0)
        val rows = raw.groupBy(col("__file"))
            .agg(aggList.head, aggList.tail: _*).collect()
        val amended = rows.map { r =>
            val f = r.getString(r.fieldIndex("__file"))
            val st = baseStats(f)
            var cols = st.cols
            def amend(name: String,
                      f2: LakeStats.ColStats => LakeStats.ColStats): Unit =
              cols.get(name).foreach { cs =>
                val next = f2(cs)
                if (next ne cs) { cols = cols.updated(name, next); facts += 1 }
              }
            sumCols.foreach { c =>
              if (kindOk(f, c, LakeTableIO.statKindFor(c.dataType))) {
                val scale = c.dataType match {
                  case d: DecimalType => d.scale
                  case _              => 0
                }
                val s = r.getDecimal(r.fieldIndex(s"sum__${c.name}"))
                val a = r.getDecimal(r.fieldIndex(s"asum__${c.name}"))
                val cnt = r.getLong(r.fieldIndex(s"cnt__${c.name}"))
                if (cnt == 0L)
                  // all-null column: the exact fact is zero
                  amend(c.name, cs =>
                    if (cs.sum.isDefined && cs.asum.isDefined) cs
                    else cs.copy(sum = Some("0"), asum = Some("0")))
                else if (s != null && a != null)
                  amend(c.name, cs =>
                    if (cs.sum.isDefined && cs.asum.isDefined) cs
                    else cs.copy(
                      sum = Some(s.setScale(scale)
                        .unscaledValue().toString),
                      asum = Some(a.setScale(scale)
                        .unscaledValue().toString)))
                // else: null sum with non-null rows = legacy-mode
                // decimal-38 overflow — the fact is unknowable at this
                // width; skip (conservative decline stands)
              }
            }
            ndvCols.foreach { c =>
              if (kindOk(f, c, hashKind(c.dataType))) {
                val v = r.getString(r.fieldIndex(s"ndv__${c.name}"))
                if (v != null) amend(c.name, cs =>
                  if (cs.ndv.isDefined) cs else cs.copy(ndv = Some(v)))
              }
            }
            bloomCols.foreach { c =>
              if (kindOk(f, c, hashKind(c.dataType))) {
                val v = r.getString(r.fieldIndex(s"bloom__${c.name}"))
                if (v != null) amend(c.name, cs =>
                  if (cs.bloom.isDefined) cs else cs.copy(bloom = Some(v)))
              }
            }
            lenCols.foreach { c =>
              if (kindOk(f, c, Some("str"))) {
                val t = r.getLong(r.fieldIndex(s"tlen__${c.name}"))
                val mx = r.getLong(r.fieldIndex(s"mlen__${c.name}"))
                amend(c.name, cs =>
                  if (cs.tlen.isDefined && cs.mlen.isDefined) cs
                  else cs.copy(tlen = Some(t.toString),
                    mlen = Some(mx.toString)))
              }
            }
            histCols.foreach { c =>
              if (kindOk(f, c, histKind(c.dataType))) {
                val v = r.getString(r.fieldIndex(s"hist__${c.name}"))
                if (v != null) amend(c.name, cs =>
                  if (cs.hsample.isDefined) cs
                  else cs.copy(hsample = Some(v)))
              }
            }
            f -> st.copy(cols = cols)
        }.toMap
        // A ZERO-ROW target file yields no groupBy('__file') row — it
        // provably contributed no rows to this unfiltered scan, so its
        // exact facts are the zeros: sum=0/asum=0, tlen=0/mlen=0, the
        // empty KMV sketch (NDV exactly 0) and the all-zero bloom
        // (matches nothing — correct: the file holds no values).
        // Without the synthesis, needsFacts selects the file forever
        // (every ANALYZE rescans it) and metadata SUM/AVG stays
        // declined on any table containing an empty file.
        val zeroNdv = "" // Base64 of zero bytes = the empty sketch
        val zeroBloom = java.util.Base64.getEncoder
          .encodeToString(new Array[Byte](LakeBloom.bits >> 3))
        val zeroed = chunk.filterNot(amended.keySet).flatMap { f =>
          val st = baseStats(f)
          var cols = st.cols
          var changed = false
          def amendZ(name: String,
                     f2: LakeStats.ColStats => LakeStats.ColStats): Unit =
            cols.get(name).foreach { cs =>
              val next = f2(cs)
              if (next ne cs) {
                cols = cols.updated(name, next); facts += 1; changed = true
              }
            }
          sumCols.foreach { c =>
            if (kindOk(f, c, LakeTableIO.statKindFor(c.dataType)))
              amendZ(c.name, cs =>
                if (cs.sum.isDefined && cs.asum.isDefined) cs
                else cs.copy(sum = Some("0"), asum = Some("0")))
          }
          ndvCols.foreach { c =>
            if (kindOk(f, c, hashKind(c.dataType)))
              amendZ(c.name, cs =>
                if (cs.ndv.isDefined) cs else cs.copy(ndv = Some(zeroNdv)))
          }
          bloomCols.foreach { c =>
            if (kindOk(f, c, hashKind(c.dataType)))
              amendZ(c.name, cs =>
                if (cs.bloom.isDefined) cs
                else cs.copy(bloom = Some(zeroBloom)))
          }
          lenCols.foreach { c =>
            if (kindOk(f, c, Some("str")))
              amendZ(c.name, cs =>
                if (cs.tlen.isDefined && cs.mlen.isDefined) cs
                else cs.copy(tlen = Some("0"), mlen = Some("0")))
          }
          histCols.foreach { c =>
            if (kindOk(f, c, histKind(c.dataType)))
              amendZ(c.name, cs =>
                if (cs.hsample.isDefined) cs
                else cs.copy(hsample = Some(""))) // the empty sample
          }
          if (changed) Some(f -> st.copy(cols = cols)) else None
        }.toMap
        (amended ++ zeroed, facts)
    }
    if (targets.isEmpty) commitAmend(Map.empty, 0)
    else targets.grouped(chunkFiles).foreach { chunk =>
      val (amendments, facts) = factsForChunk(chunk)
      commitAmend(amendments, facts)
    }
    (totalFiles, totalFacts)
  }
}
