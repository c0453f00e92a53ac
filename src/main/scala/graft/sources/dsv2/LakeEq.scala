package graft.sources.dsv2

import java.util.{ArrayList, HashMap => JHashMap, List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType}

/** EQUALITY DELETES — Iceberg v2's second delete contract, beside the
  * positional deletion vectors ([[LakeDv]]). An equality-delete file is
  * a set of KEY VALUES: every row (in scope) whose key columns match a
  * listed key is deleted, without anyone ever locating its file or
  * position. That asymmetry is the point: a positional delete costs a
  * scan per epoch to FIND the rows (the foreachBatch-MERGE shape —
  * O(table) per epoch), while an equality delete costs O(epoch) to
  * WRITE and defers the matching to readers — the contract that makes
  * a keyed streaming upsert sink cheap at 100 TB. The read-side cost is
  * bounded by retirement: `CALL system.rewrite_deletes` materializes
  * and retires them (compaction's dual).
  *
  * SCOPE (the sequencing rule): an eq-delete committed at snapshot
  * version V applies to a data file iff the file's add version
  * ([[LakeStats.FileStats.addV]]) is KNOWN and < V. The same commit's
  * own post-image files (addV = V) and all later rows are never
  * affected — exactly Iceberg's data-vs-delete sequence-number rule.
  * A file with UNKNOWN addV under a live eq-delete is un-sequenceable
  * (applying could eat newer rows; skipping could resurrect deleted
  * ones), so both the eq commit and the scan fail LOUD on that state
  * rather than guess — [[requireSequenceable]].
  *
  * SIDECAR format (`eq-<uuid>.json` in the table dir, write-once like
  * DV sidecars): `{"keyCols": [...], "keys": ["<enc>", ...]}` where
  * each key is the canonical ENCODING of its column values
  * ([[encodeKey]] — the same canonical strings both the writer's
  * internal values and the reader's decoded values map to), multi-col
  * values joined by U+0000. Admitted key types are the exactly-
  * canonical ones: int/long/string/date; keys are non-null by
  * contract (the sink rejects null keys loud).
  */
object LakeEq {

  /** One equality-delete file as the manifest carries it: sidecar name,
    * the snapshot version it committed at (fills in at commit), its key
    * columns, the key count (bookkeeping/inventory), and — when the
    * key columns functionally determine the partition (every current-
    * spec source column is a key column) — the PARTITION TUPLE all of
    * its keys share (versioned slots, [[LakePartitioning]] encoding):
    * Iceberg v2's partition-scoped delete files. A tupled ref attaches
    * only to same-spec files with the SAME tuple — any row matching
    * one of its keys computes that tuple by transform determinism, so
    * a same-spec different-tuple file provably holds none of them.
    * Different-spec or tuple-less files attach conservatively.
    */
  final case class EqRef(name: String, version: Long,
                         keyCols: Seq[String], n: Long,
                         tuple: Option[Seq[String]] = None)

  private val mapper = new ObjectMapper()

  /** Key column types whose canonical encoding is exact. */
  def admits(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | DateType => true
    case _ => false
  }

  /** Canonical string of one INTERNAL key value (Int / Long /
    * UTF8String; DateType's internal is the epoch-day Int). Null keys
    * are a contract violation — fail loud, a silent mis-encoding would
    * tombstone the wrong rows.
    */
  def encodeValue(v: Any): String = v match {
    case null => throw new IllegalArgumentException(
      "graft_lake equality delete: key value is NULL — upsert keys " +
        "must be non-null")
    case i: Int => i.toString
    case l: Long => l.toString
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case other => throw new IllegalArgumentException(
      s"graft_lake equality delete: unencodable key value class " +
        s"${other.getClass.getName}")
  }

  /** Canonical multi-column key: values joined by NUL (unambiguous —
    * no admitted type's encoding contains NUL).
    */
  def encodeKey(values: Seq[Any]): String =
    values.map(encodeValue).mkString("\u0000")

  /** Write one sidecar; returns its name. Write-once (never
    * overwritten), staged content — orphaned by a lost commit race and
    * reclaimed by the expire vacuum like any unpublished file.
    */
  def write(dir: String, keyCols: Seq[String],
            keys: Iterable[String]): String = {
    val name = s"eq-${java.util.UUID.randomUUID()}.json"
    val fs = new Path(dir).getFileSystem(new Configuration())
    val m = new JHashMap[String, Object]()
    val kc = new ArrayList[String](keyCols.size)
    keyCols.foreach(kc.add)
    m.put("keyCols", kc)
    val ks = new ArrayList[String]()
    keys.foreach(ks.add)
    m.put("keys", ks)
    val out = fs.create(new Path(dir, name), false)
    try out.write(mapper.writeValueAsBytes(m)) finally out.close()
    name
  }

  /** Read one sidecar: (keyCols, canonical key set). Fails loud — a
    * missing/torn eq sidecar under a live ref means deleted rows would
    * resurrect; there is no conservative direction.
    */
  def read(dir: String, name: String): (Seq[String], Set[String]) = {
    val fs = new Path(dir).getFileSystem(new Configuration())
    val in = fs.open(new Path(dir, name))
    val bytes = try in.readAllBytes() finally in.close()
    val m = mapper.readValue(bytes, classOf[JMap[String, Object]])
    val cols = m.get("keyCols") match {
      case l: JList[_] => l.asScala.map(_.toString).toSeq
      case _ => throw new java.io.IOException(
        s"graft_lake: eq sidecar $name has no keyCols")
    }
    val keys = m.get("keys") match {
      case l: JList[_] => l.asScala.map(_.toString).toSet
      case _ => throw new java.io.IOException(
        s"graft_lake: eq sidecar $name has no keys")
    }
    (cols, keys)
  }

  // Executor-wide sidecar cache: eq files are immutable write-once
  // content read by every task scanning an affected file — one read
  // per executor, not per split. Crude size cap (clear past 256
  // entries): refs retire via rewrite_deletes, so steady state is the
  // handful of un-retired epochs.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[String], Set[String])]()

  def cached(dir: String, name: String): (Seq[String], Set[String]) = {
    if (cache.size > 256) cache.clear()
    cache.computeIfAbsent(new Path(dir, name).toUri.toString,
      _ => read(dir, name))
  }

  /** The eq-deletes applicable to a file added at `addV` (see the
    * sequencing rule above). Callers must have proven sequenceability
    * first — an unknown addV under a non-empty ref list is the loud
    * state, not a silent skip.
    */
  def applicable(refs: Seq[EqRef], addV: Long): Seq[EqRef] =
    refs.filter(r => addV >= 0 && addV < r.version)

  // ------------------------------------------------- key-stat scoping

  /** Per-value In-list cap for key-statistics scoping: refs with more
    * keys than this scope by per-column RANGE only (two comparisons
    * per file instead of O(keys) bound/bloom probes) — pruning power
    * degrades gracefully, per-file planning cost stays O(1).
    */
  private val ScopeInCap = 1024

  // driver-side decoded-literals cache (sidecar URI → per-column
  // literal arrays); sidecars are immutable write-once content
  private val scopeCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Decode one sidecar's canonical keys back into per-COLUMN typed
    * literal arrays (the classes [[LakeStats.mightMatchFile]] and
    * [[LakeBloom.hashLiteral]] compare exactly: Int/Long/String/
    * LocalDate). None when any key fails to decode (foreign sidecar,
    * drifted schema) — callers attach conservatively.
    */
  def scopeValues(dir: String, name: String,
                  types: Seq[DataType]): Option[Seq[Array[Any]]] = {
    if (scopeCache.size > 256) scopeCache.clear()
    // failure classes memoize DIFFERENTLY: a None from a TRANSIENT
    // sidecar READ failure must not stick (it would silently degrade
    // key-stat scoping to attach-everywhere for this sidecar for the
    // driver JVM's lifetime — correct but defeats the scoping for
    // scans, inventories, and rewrite target selection), while a None
    // from a DECODE failure (foreign sidecar, drifted schema, key
    // type outside the allow-list) is deterministic on the immutable
    // sidecar content and MUST cache — re-throwing per (ref, file)
    // probe on a 10k-file table is 10k wasted decode attempts per plan
    val uri = new Path(dir, name).toUri.toString
    val hit = scopeCache.get(uri)
    if (hit != null) return hit.asInstanceOf[Option[Seq[Array[Any]]]]
    val keys =
      try cached(dir, name)._2
      catch { case scala.util.control.NonFatal(_) =>
        return None } // transient read: answer, don't memoize
    val computed: AnyRef =
      try {
        val cols = Array.fill(types.size)(
          Array.newBuilder[Any])
        val it = keys.iterator
        while (it.hasNext) {
          // -1: a trailing empty string value must survive the split
          val parts =
            if (types.size == 1) Array(it.next())
            else it.next().split("\u0000", -1)
          if (parts.length != types.size) throw new MatchError(parts)
          var i = 0
          while (i < types.size) {
            cols(i) += (types(i) match {
              case IntegerType => parts(i).toInt
              case LongType    => parts(i).toLong
              case StringType  => parts(i)
              case DateType    =>
                java.time.LocalDate.ofEpochDay(parts(i).toLong)
              case other => throw new MatchError(other)
            })
            i += 1
          }
        }
        Some(cols.map(_.result()).toSeq): AnyRef
      } catch { case scala.util.control.NonFatal(_) => None: AnyRef }
    scopeCache.putIfAbsent(uri, computed)
    computed.asInstanceOf[Option[Seq[Array[Any]]]]
  }

  /** Can `file` (judged from its manifest stats) contain ANY of `ref`'s
    * keys? True on any uncertainty — skipping attachment is the
    * dangerous direction (a skipped ref resurrects deleted rows), so
    * false only on PROOF: every key column's value set provably absent
    * by min/max bounds (and blooms, for refs within [[ScopeInCap]]).
    * On a sorted or bloom-indexed 100 TB table this is what keeps an
    * upsert epoch's read debt local to the files that hold its keys
    * instead of attaching key-probe work to every sequenced file.
    */
  def mayApply(dir: String, ref: EqRef, st: LakeStats.FileStats,
               tableCols: Array[LakeColumnRef],
               schema: StructType): Boolean = {
    val bound =
      try bindKeys(schema, ref.keyCols)
      catch { case scala.util.control.NonFatal(_) => return true }
    scopeValues(dir, ref.name, bound.map(_._2)) match {
      case None => true
      case Some(perCol) =>
        val filters: Array[org.apache.spark.sql.sources.Filter] =
          bound.zip(perCol).map { case ((idx, _), vals) =>
            // the schema-canonical spelling — mightMatchFile resolves
            // stats entries by the table ref's exact name
            val name = schema.fields(idx).name
            if (vals.isEmpty)
              // an empty key set matches nothing anywhere
              org.apache.spark.sql.sources.In(name, Array.empty[Any])
            else if (vals.length <= ScopeInCap)
              org.apache.spark.sql.sources.In(name, vals)
            else {
              // large ref: range-only scoping, O(1) per file
              val ord = scopeOrdering(vals(0))
              org.apache.spark.sql.sources
                .GreaterThanOrEqual(name, vals.min(ord))
            }
          }.toArray ++ bound.zip(perCol).collect {
            case ((idx, _), vals) if vals.length > ScopeInCap =>
              val ord = scopeOrdering(vals(0))
              org.apache.spark.sql.sources
                .LessThanOrEqual(schema.fields(idx).name, vals.max(ord))
          }
        LakeStats.mightMatchFile(st, tableCols, filters)
    }
  }

  private def scopeOrdering(sample: Any): Ordering[Any] = (sample match {
    case _: Int    => Ordering.Int.on((v: Any) => v.asInstanceOf[Int])
    case _: Long   => Ordering.Long.on((v: Any) => v.asInstanceOf[Long])
    case _: java.time.LocalDate =>
      Ordering.Long.on((v: Any) =>
        v.asInstanceOf[java.time.LocalDate].toEpochDay)
    // parquet's unsigned UTF-8 byte order — the stats' own comparator
    case _ => Ordering.comparatorToOrdering(
      java.util.Comparator.comparing((v: Any) =>
        org.apache.parquet.io.api.Binary.fromString(
          v.asInstanceOf[String])))
  })

  /** The refs of `refs` that BOTH apply to a file by the sequencing
    * rule AND may hold one of its keys per the file's statistics — the
    * single scoping entry the scan's attachment, `rewrite_deletes`'
    * target set, and the `db.t.deletes` inventory all share (the
    * inventory advertises exactly what a rewrite would touch).
    * `st` None (no stats entry) attaches conservatively.
    */
  def scopedApplicable(dir: String, refs: Seq[EqRef], addV: Long,
                       st: Option[LakeStats.FileStats],
                       tableCols: Array[LakeColumnRef],
                       schema: StructType,
                       fileTuple: Option[Seq[String]] = None): Seq[EqRef] =
    applicable(refs, addV)
      // partition scoping: a tupled ref skips a SAME-SPEC file with
      // DIFFERENT slots (the keys' rows cannot live there — transform
      // determinism); different-spec/tuple-less stays conservative.
      // Compared in splitTuple-NORMALIZED form: a legacy version-less
      // tuple reads as spec 0, and raw Seq comparison against a
      // versioned "s0"-headed ref tuple would wrongly skip a file
      // that genuinely holds the keys (second-pass review finding —
      // the resurrection direction)
      .filter(r => r.tuple.forall(rt => fileTuple.forall { ft =>
        val (ri, rs) = LakePartitioning.splitTuple(rt)
        val (fi, fs) = LakePartitioning.splitTuple(ft)
        ri != fi || rs == fs
      }))
      .filter(r => st.forall(s => mayApply(dir, r, s, tableCols, schema)))

  /** Does any of `refs` ATTACH to file `name` under the full scoped
    * rule (sequencing + key statistics + partition tuples — exactly
    * what the scan subtracts and rewrite_deletes touches)? Missing
    * stats or an unknown add version read as ATTACHED (the
    * conservative direction for every caller: fast paths decline,
    * inventories report NULL). The ONE predicate the metadata fast
    * paths, the LIMIT/TopN gate, and both inventories share — a
    * scoping refinement edited here cannot diverge them.
    */
  def attachedTo(dir: String, refs: Seq[EqRef], name: String,
                 stats: Map[String, LakeStats.FileStats],
                 parts: Map[String, Seq[String]],
                 tableCols: Array[LakeColumnRef],
                 schema: StructType): Boolean =
    refs.nonEmpty && {
      val st = stats.get(name)
      !st.exists(_.addV >= 0) ||
        scopedApplicable(dir, refs, st.get.addV, st, tableCols,
          schema, parts.get(name)).nonEmpty
    }

  /** Probed-file budget for the inventories' exact arm
    * ([[countMatches]] callers): when refs attach to MORE files than
    * this, the probe is declined WHOLESALE — every attached file
    * reports NULL, uniformly. The exact arm is a driver-side
    * key-column read per attached file; a broadly-attached ref on a
    * 5k-file table must not silently turn a metadata query into a
    * data scan. 64 attached files ≈ the cost class of the stat-less
    * footer-fallback sweep the inventories already tolerate.
    */
  val probeMaxFiles: Int = 64

  /** The ONE per-file scoping memo + probe-budget judgment both
    * inventories (`db.t.files`, `db.t.partitions`) share — a budget
    * rule edited here cannot diverge their exact/NULL promises.
    * Returns (per-file applicable refs — None for unsequenceable
    * files, which report NULL always — and whether the exact arm may
    * run: false when refs attach to more files than [[probeMaxFiles]],
    * the wholesale-uniform-NULL decline).
    */
  def inventoryScope(dir: String, files: Seq[String],
                     eqs: Seq[EqRef],
                     stats: Map[String, LakeStats.FileStats],
                     parts: Map[String, Seq[String]],
                     tableCols: Array[LakeColumnRef],
                     schema: StructType)
      : (Map[String, Option[Seq[EqRef]]], Boolean) = {
    def applicableOf(n: String): Option[Seq[EqRef]] = {
      val st = stats.get(n)
      if (eqs.isEmpty) Some(Seq.empty)
      else if (!st.exists(_.addV >= 0)) None // unsequenceable
      else Some(scopedApplicable(dir, eqs, st.get.addV, st, tableCols,
        schema, parts.get(n)))
    }
    val byFile: Map[String, Option[Seq[EqRef]]] =
      files.map(n => n -> applicableOf(n)).toMap
    (byFile, byFile.values.count(_.exists(_.nonEmpty)) <= probeMaxFiles)
  }

  /** EXACT matched-row count of `refs` inside ONE data file (r16 —
    * the inventories' exact arm, closing the r15 verdict's
    * "exact small-ref inventories" ask): decode ONLY the involved key
    * columns, walk the rows with their file positions, skip DV-dead
    * positions, and count rows whose canonical key matches ANY ref
    * (each row once, even under overlapping refs). Engaged only when
    * every ref is within [[ScopeInCap]] keys — the same bound
    * key-statistics scoping uses — so the probe is one bounded
    * key-column read per attached file, the cost class of the
    * stat-less footer fallback the inventories already take. None on
    * ANY uncertainty (oversized ref, unreadable sidecar, unresolvable
    * table column, I/O error): callers report NULL, never a wrong
    * number. A ref whose key column the FILE cannot resolve
    * contributes no matches (every value there is null — the same
    * dropped-test rule both readers apply).
    */
  def countMatches(dir: String, filePath: Path, refs: Seq[EqRef],
                   schema: StructType,
                   deadPositions: Array[Long]): Option[Long] = {
    if (refs.isEmpty) return Some(0L)
    if (refs.exists(_.n > ScopeInCap)) return None
    try {
      val tcols = LakeTableIO.columnRefs(schema)
      // per ref: resolution refs of its key columns (case-insensitive,
      // pre-canonicalization sidecars carry user spellings) + key set
      val tests: Seq[(Seq[LakeColumnRef], Set[String])] = refs.map { r =>
        val (cols, keys) = cached(dir, r.name)
        val colRefs = cols.map { c =>
          tcols.find(_.name.equalsIgnoreCase(c)) match {
            case Some(cr) => cr
            case None     => return None // foreign sidecar: unknowable
          }
        }
        (colRefs, keys)
      }
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          filePath, new Configuration()))
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val involved = tests.flatMap(_._1).groupBy(_.name)
          .map(_._2.head).toSeq
        val filePos: Map[String, String] = involved.flatMap(r =>
          LakeTableIO.resolveInFile(fileSchema, r).map(r.name -> _))
          .toMap
        val keptNames = filePos.values.toSet
        val kept = fileSchema.getFields.asScala
          .filter(t => keptNames.contains(t.getName))
        val requested = new org.apache.parquet.schema.MessageType(
          fileSchema.getName, kept.asJava)
        val requestedStruct = LakeParquet.toStructType(requested)
        val nameToReq: Map[String, Int] =
          requestedStruct.fieldNames.zipWithIndex.toMap
        // tests with every key column resolved in THIS file; the rest
        // drop (null never matches a non-null key)
        val active: Array[(Array[Int], Set[String])] =
          tests.flatMap { case (colRefs, keys) =>
            val pos = colRefs.map(r =>
              filePos.get(r.name).flatMap(nameToReq.get).getOrElse(-1))
            if (pos.contains(-1)) None else Some((pos.toArray, keys))
          }.toArray
        if (active.isEmpty) return Some(0L)
        reader.setRequestedSchema(requested)
        // decoded in the FILE's own types — the canonical key encoding
        // is invariant across the admitted widenings, so vintages
        // compare exactly (the same raw-compare rule both readers use)
        val dec = LakeParquet.columnDecoders(requestedStruct, requested)
        var count = 0L
        var pos = -1L
        var dvCur = 0
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val crs = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
            pages,
            new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(requested).getRootConverter,
            requested, reader.getFooter.getFileMetaData.getCreatedBy)
          val descs = requested.getColumns.asScala.toArray
          val crd = descs.map(crs.getColumnReader)
          val maxDef = descs.map(_.getMaxDefinitionLevel)
          var i = 0L
          val n = pages.getRowCount
          while (i < n) {
            pos += 1
            val vals = new Array[Any](crd.length)
            var c = 0
            while (c < crd.length) {
              val cr = crd(c)
              vals(c) =
                if (cr.getCurrentDefinitionLevel == maxDef(c)) dec(c)(cr)
                else null
              cr.consume()
              c += 1
            }
            while (dvCur < deadPositions.length &&
                deadPositions(dvCur) < pos) dvCur += 1
            if (dvCur < deadPositions.length &&
                deadPositions(dvCur) == pos) dvCur += 1 // DV-dead
            else {
              var hit = false
              var t = 0
              while (!hit && t < active.length) {
                val (ps, keys) = active(t)
                val kv = new Array[Any](ps.length)
                var j = 0
                var nul = false
                while (j < ps.length && !nul) {
                  val v = vals(ps(j))
                  if (v == null) nul = true else kv(j) = v
                  j += 1
                }
                if (!nul && keys.contains(encodeKey(kv.toSeq)))
                  hit = true
                t += 1
              }
              if (hit) count += 1
            }
            i += 1
          }
          pages = reader.readNextRowGroup()
        }
        Some(count)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fail loud when any current file cannot be SEQUENCED against the
    * eq-delete list (unknown add version) — checked at eq commit time
    * (friendly error, with the remedy) and re-checked at scan plan
    * time (a concurrent bootstrap sweep can add sequence-less files).
    */
  def requireSequenceable(dir: String, refs: Seq[EqRef],
                          files: Seq[String],
                          stats: Map[String, LakeStats.FileStats]): Unit =
    if (refs.nonEmpty) {
      val bad = files.filter(f => !stats.get(f).exists(_.addV >= 0))
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"graft_lake $dir: equality deletes are live but " +
            s"${bad.take(3).mkString(", ")}${if (bad.size > 3) ", …" else ""}" +
            " carry no add version — the deletes cannot be sequenced " +
            "against them (applying could delete newer rows; skipping " +
            "would resurrect deleted ones). CALL system.rewrite_deletes" +
            " / system.compact to rewrite those vintages first")
    }

  /** prePublish guard for row-level DML whose plan consumed the eq
    * state AS OF its snapshot: the current ref set must still EQUAL
    * the plan-time set — a ref committed mid-operation targets keys
    * whose rows the DML may have REWRITTEN to new versions (a genuine
    * write-write conflict: the ref means "delete the row that key had
    * at my commit", and after the DML that row is a different one),
    * so serializable-by-default fails loud like Iceberg's row-level
    * validation. Maintenance rewrites (dataChange=false) do NOT use
    * this since r16 — their outputs inherit the plan version
    * ([[graft.sources.dsv2.LakeLog.commit]] addedSeqs), keeping
    * concurrent refs attached, so only PLANNED-ref removal aborts
    * them ([[graft.operators.LakeSnapshots.eqGuard]]). Re-checked
    * adjacent to every publish attempt, where the version CAS makes
    * it airtight.
    */
  def requireUnchanged(dir: String, branch: Option[String],
                       atPlan: Seq[EqRef], what: String): Unit = {
    val now = LakeLog.current(dir, branch).map(_.eqs).getOrElse(Seq.empty)
    if (now != atPlan)
      throw new java.util.ConcurrentModificationException(
        s"graft_lake $dir: the equality-delete set changed while " +
          s"$what was in flight — its rewritten rows would escape " +
          "the new deletes (deleted rows would resurrect); re-run")
  }

  /** Manifest encoding of the ref list. */
  def toJson(refs: Seq[EqRef]): ArrayList[Object] = {
    val l = new ArrayList[Object](refs.size)
    refs.foreach { r =>
      val m = new JHashMap[String, Object]()
      m.put("name", r.name)
      m.put("version", java.lang.Long.valueOf(r.version))
      val kc = new ArrayList[String](r.keyCols.size)
      r.keyCols.foreach(kc.add)
      m.put("keyCols", kc)
      m.put("n", java.lang.Long.valueOf(r.n))
      r.tuple.foreach { t =>
        val tl = new ArrayList[String](t.size)
        t.foreach(tl.add)
        m.put("tuple", tl)
      }
      l.add(m)
    }
    l
  }

  def fromJson(v: Object): Seq[EqRef] = v match {
    case l: JList[_] => l.asScala.toSeq.flatMap {
      case m: JMap[_, _] =>
        val mm = m.asInstanceOf[JMap[String, Object]]
        val ver = mm.get("version") match {
          case n: Number => n.longValue(); case _ => -1L
        }
        val cols = mm.get("keyCols") match {
          case kl: JList[_] => kl.asScala.map(_.toString).toSeq
          case _            => Seq.empty
        }
        val n = mm.get("n") match {
          case x: Number => x.longValue(); case _ => 0L
        }
        val tuple = mm.get("tuple") match {
          case tl: JList[_] => Some(tl.asScala.map(_.toString).toSeq)
          case _            => None
        }
        if (ver >= 0 && cols.nonEmpty)
          Some(EqRef(String.valueOf(mm.get("name")), ver, cols, n, tuple))
        else None
      case _ => None
    }
    case _ => Seq.empty
  }

  /** Resolve `keyCols` to their schema ordinals + types, validating the
    * admitted kinds — the write-side fold and the read-side membership
    * test both bind through this.
    */
  def bindKeys(schema: StructType, keyCols: Seq[String])
      : Seq[(Int, DataType)] =
    keyCols.map { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(i >= 0,
        s"graft_lake upsert: key column '$c' is missing from schema " +
          s"[${schema.fieldNames.mkString(",")}]")
      val dt = schema.fields(i).dataType
      require(admits(dt),
        s"graft_lake upsert: key column '$c' has type " +
          s"${dt.simpleString} — upsert keys admit int/bigint/string/date")
      (i, dt)
    }
}
