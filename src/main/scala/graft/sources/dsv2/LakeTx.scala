package graft.sources.dsv2

import java.util.{ArrayList, HashMap => JHashMap, List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table ATOMIC commit across tables of one catalog root — the
  * last classic lakehouse contract (Delta has none; Iceberg gets it
  * from a catalog-level swap). Built as a write-ahead redo log on the
  * two primitives the per-table [[LakeLog]] already rests on:
  *
  *  1. '''stage''': each table's new data files are published into its
  *     directory under fresh UUID names but in NO manifest — invisible
  *     to every reader, reclaimable orphans if the transaction never
  *     commits;
  *  2. '''decide''': ONE transaction marker
  *     (`<root>/_txn/tx-<id>.json`, atomic create) listing every
  *     (table, files, rows) participant — this single rename is the
  *     commit point for the WHOLE transaction;
  *  3. '''apply''': each participant table gets an ordinary
  *     `LakeLog.commit` whose operation tag `txn(<id>)` makes the
  *     apply IDEMPOTENT (an already-applied table is recognized and
  *     skipped);
  *  4. '''forget''': the marker is deleted once every table is
  *     applied.
  *
  * Atomicity is the WAL guarantee: a crash BEFORE the marker leaves
  * nothing visible anywhere (stage-only orphans); a crash AFTER the
  * marker — even mid-apply, with one table committed and the other
  * not — is finished by [[recover]], which every later [[commit]] on
  * the root runs first. So no transaction can ever settle half-applied:
  * either the marker never existed (neither table changes) or it did
  * (both eventually commit, and the idempotent tag makes re-applying
  * safe).
  *
  * READ visibility is catalog-owned at the marker too: head resolution
  * ([[LakeTableIO.snapshotView]] via [[pendingFor]]) unions the staged
  * files of decided-but-unapplied transactions, so plain `SELECT`s
  * observe the transaction in every participant table from the marker
  * rename on — the per-table applies are pure log bookkeeping that
  * readers no longer wait for. What this intentionally does NOT give
  * is cross-statement snapshot isolation (two sequential SELECTs can
  * straddle a commit, as in any lakehouse); [[consistentView]] remains
  * the primitive for pinning one stable multi-table cut.
  *
  * Scale notes: the marker is one small JSON record; staging cost is
  * the data writes themselves (paid anywhere); apply cost is one
  * manifest commit per table. Nothing here scans data.
  */
object LakeTx {
  private val mapper = new ObjectMapper()

  /** One table's slice of a transaction: data files already PUBLISHED
    * (present in `dir` under their final names) but in no manifest.
    */
  final case class TableAppend(dir: String, operation: String,
                               added: Seq[String], addedRows: Long,
                               parts: Map[String, Seq[String]] = Map.empty)

  private def txDir(root: String): Path = new Path(root, "_txn")

  private def fsFor(p: String): FileSystem =
    new Path(p).getFileSystem(new Configuration())

  /** Stage `df` as published-but-uncommitted parquet files of the table
    * at `dir`: written to a scratch subdir, then renamed into the table
    * directory under fresh UUID names (invisible until a manifest
    * lists them; vacuum-reclaimable orphans on abort). Id-less files —
    * the reader's legacy name resolution covers them, same as any
    * externally produced file.
    *
    * The writer-harvested FACTS (exact sums, NDV sketches, blooms) are
    * deliberately NOT carried through the transaction marker — the
    * marker is a persisted crash-recovery format and widening it for
    * derived data isn't worth the compatibility surface. Tx-appended
    * files therefore decline the metadata fast paths conservatively
    * (never wrongly) until a `CALL system.analyze` backfills them.
    * CHECK constraints ARE enforced (per row, in the connector writer
    * this stages through).
    */
  def stageAppend(spark: SparkSession, df: DataFrame, dir: String,
                  operation: String): TableAppend = {
    val fs = fsFor(dir)
    // write through the CONNECTOR's writer (not a raw parquet dump):
    // field ids land in the footers and — on partitioned tables — the
    // rows split per tuple, so transactional appends keep the same
    // layout guarantees as any INSERT (pruning, SPJ, dynamic
    // overwrite); the writer stages under _staging like every write
    val staged: Seq[StagedLakeFile] =
      LakeTableIO.stageThroughConnector(df, dir)
    val published = staged.map { s =>
      val dest = new Path(dir,
        s"part-${java.util.UUID.randomUUID()}.parquet")
      if (!fs.rename(new Path(s.stagedPath), dest))
        throw new java.io.IOException(
          s"failed to publish ${s.stagedPath} -> $dest")
      (dest.getName, s.rows, s.tuple)
    }
    TableAppend(dir, operation, published.map(_._1),
      published.map(_._2).sum,
      published.collect { case (n, _, Some(t)) => n -> t }.toMap)
  }

  /** Atomically commit `appends` across their tables. Runs [[recover]]
    * first (finishing any transaction an earlier crash left mid-apply),
    * then decide → apply → forget as documented above. Returns the
    * transaction id.
    */
  def commit(root: String, appends: Seq[TableAppend]): String = {
    require(appends.nonEmpty, "empty transaction")
    recover(root)
    val txid = java.util.UUID.randomUUID().toString
    writeMarker(root, txid, appends)
    appends.foreach(applyOne(txid, _))
    forget(root, txid)
    txid
  }

  /** Finish every transaction whose marker survived a crash: re-apply
    * each participant (idempotent via the `txn(<id>)` operation tag),
    * then delete the marker. Returns the number of transactions
    * completed. Run by every [[commit]]; safe to call any time.
    */
  def recover(root: String): Int = {
    val fs = fsFor(root)
    val d = txDir(root)
    if (!fs.exists(d)) return 0
    val markers = fs.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("tx-"))
    markers.foreach { m =>
      val (txid, appends) = readMarker(fs, m.getPath)
      appends.foreach(applyOne(txid, _))
      fs.delete(m.getPath, false)
    }
    markers.size
  }

  private[graft] def writeMarker(root: String, txid: String,
                                 appends: Seq[TableAppend]): Unit = {
    val fs = fsFor(root)
    fs.mkdirs(txDir(root))
    // before the marker can flip visibility, every participant table
    // gets a PERMANENT `_log/_txroot` pointer back to the root — the
    // breadcrumb [[pendingFor]] follows so head resolution knows where
    // to look for markers. Written once per table (idempotent); tables
    // that never participate in a transaction never pay more than the
    // single exists() check.
    appends.foreach { a =>
      val ptr = new Path(a.dir, "_log/_txroot")
      val pfs = fsFor(a.dir)
      if (!pfs.exists(ptr)) {
        pfs.mkdirs(ptr.getParent)
        val out =
          try pfs.create(ptr, false)
          catch { case _: java.io.IOException => null } // raced: fine
        if (out != null)
          try out.write(root.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
      }
    }
    val body = new JHashMap[String, Object]()
    body.put("txid", txid)
    val list = new ArrayList[JMap[String, Object]]()
    appends.foreach { a =>
      val m = new JHashMap[String, Object]()
      m.put("dir", a.dir)
      m.put("operation", a.operation)
      val fl = new ArrayList[String](a.added.size)
      a.added.foreach(fl.add)
      m.put("added", fl)
      m.put("addedRows", java.lang.Long.valueOf(a.addedRows))
      if (a.parts.nonEmpty) {
        val pm = new JHashMap[String, Object]()
        a.parts.toSeq.sortBy(_._1).foreach { case (f, t) =>
          val tl = new ArrayList[String](t.size)
          t.foreach(tl.add)
          pm.put(f, tl)
        }
        m.put("parts", pm)
      }
      list.add(m)
    }
    body.put("appends", list)
    val tmp = new Path(txDir(root),
      s".tmp-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(body)) finally out.close()
    val dest = new Path(txDir(root), s"tx-$txid.json")
    // atomic create — THE commit point of the whole transaction
    if (!(if ("file".equalsIgnoreCase(fs.getScheme)) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dest.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else fs.rename(tmp, dest)))
      throw new java.io.IOException(s"failed to publish tx marker $dest")
    fs.delete(tmp, false)
  }

  private def readMarker(fs: FileSystem,
                         p: Path): (String, Seq[TableAppend]) = {
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val body = mapper.readValue(bytes, classOf[JMap[String, Object]])
    val txid = String.valueOf(body.get("txid"))
    val appends = body.get("appends").asInstanceOf[JList[JMap[String, Object]]]
      .asScala.toSeq.map { m =>
        val parts = m.get("parts") match {
          case pm: JMap[_, _] => pm.asScala.map { case (k, v) =>
            String.valueOf(k) ->
              v.asInstanceOf[JList[String]].asScala.toSeq
          }.toMap
          case _ => Map.empty[String, Seq[String]] // pre-parts markers
        }
        TableAppend(String.valueOf(m.get("dir")),
          String.valueOf(m.get("operation")),
          m.get("added").asInstanceOf[JList[String]].asScala.toSeq,
          m.get("addedRows").asInstanceOf[Number].longValue(), parts)
      }
    (txid, appends)
  }

  /** Apply one table's slice: an ordinary log commit tagged with the
    * transaction id. Idempotent AND race-safe: the commit runs with
    * `dedupeOnOperation`, whose duplicate check lives INSIDE the
    * version-race retry loop — two concurrent appliers (the original
    * writer and a recovering reader, or two recoveries) cannot both
    * pass a stale pre-check and double-apply; the loser of the version
    * race re-checks and no-ops.
    */
  private[graft] def applyOne(txid: String, a: TableAppend): Unit =
    LakeLog.commit(a.dir, s"txn($txid)", a.added, Seq.empty, a.addedRows,
      dedupeOnOperation = true, addedParts = a.parts)

  private[graft] def forget(root: String, txid: String): Unit =
    fsFor(root).delete(new Path(txDir(root), s"tx-$txid.json"), false)

  /** DECIDED-but-possibly-unapplied appends targeting `dir`, from live
    * transaction markers — the read-side half of catalog-owned atomic
    * visibility. Head resolution ([[LakeTableIO.snapshotView]]) unions
    * these staged file names into the manifest's file set, so a plain
    * `SELECT` observes a multi-table transaction in ALL participant
    * tables the instant its ONE marker rename lands — never the
    * half-applied middle, no matter where the per-table applies stand.
    * Union-by-name is what makes the overlap states safe: a
    * participant whose apply already committed lists the same names in
    * its manifest, and the distinct union counts them once; after
    * forget, manifests alone carry the state.
    *
    * Cost model: a table that never participated in any transaction
    * has no `_log/_txroot` pointer — ONE existence check and out (the
    * common case, same order as the `_head.json` hint read head
    * resolution already does). Participants pay one tiny pointer read
    * plus a LIST of `<root>/_txn/` — a directory that is empty except
    * during the decide→forget window, which spans two metadata commits.
    */
  def pendingFor(dir: String): Seq[TableAppend] = {
    val fs = fsFor(dir)
    val ptr = new Path(dir, "_log/_txroot")
    if (!fs.exists(ptr)) return Seq.empty
    val in = fs.open(ptr)
    val root =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    val d = txDir(root)
    val rfs = fsFor(root)
    if (!rfs.exists(d)) return Seq.empty
    val norm = new Path(dir).toUri.getPath
    rfs.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("tx-"))
      .flatMap { m =>
        // a marker deleted between LIST and read (forget racing us)
        // means its applies all landed — the manifest covers it
        val parsed =
          try Some(readMarker(rfs, m.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        parsed.toSeq.flatMap(_._2)
          .filter(a => new Path(a.dir).toUri.getPath == norm)
      }
  }

  /** A transactionally-CONSISTENT read cut across `dirs`: per-table
    * pinned versions (None = read the table as empty) such that every
    * `txn(<id>)` is visible in ALL of its participant tables or NONE —
    * the snapshot-isolation answer to the documented read-visibility
    * window between a transaction's per-table applies. Cooperating
    * readers resolve versions here and read `VERSION AS OF`; writers
    * and non-cooperating readers are untouched (no hot-path cost).
    *
    * How: start at each table's head; any PENDING marker whose applies
    * are incomplete must be invisible, so the cut drops below its
    * applied versions; then a fixpoint re-scan hides any transaction
    * the lowered cut would now tear (visible below the cut in one
    * table, above it in another — detectable because every apply is
    * tagged `txn(<id>)` in its manifest). Cuts only move down, so the
    * loop terminates. A fully-applied txn whose marker survived only
    * the forget-crash window is treated as committed (the marker IS
    * the commit point).
    *
    * Fails loud when history expiry removed a transaction boundary the
    * cut would need (the same contract as the streaming source's gap
    * handling). Cost: driver-side manifest metadata only — O(retained
    * versions) per table, nothing touches data.
    */
  def consistentView(root: String,
                     dirs: Seq[String]): Map[String, Option[Long]] = {
    val fs = fsFor(root)
    // per table: version -> txid for every retained txn-tagged manifest
    val TxnOp = """txn\(([0-9a-f-]+)\)""".r
    // operations come from the lazily-extended ops hint: only the
    // versions the hint hasn't covered yet are read — a long-history
    // table plans its cut without touching every manifest
    val txnAt: Map[String, Seq[(Long, String)]] = dirs.map { d =>
      d -> LakeLog.operations(d).flatMap { case (v, op) =>
        op match {
          case TxnOp(id) => Some(v -> id)
          case _         => None
        }
      }
    }.toMap
    val heads: Map[String, Long] =
      dirs.map(d => d -> LakeLog.versions(d).lastOption.getOrElse(-1L)).toMap
    // pending markers with incomplete applies start out hidden
    val d0 = txDir(root)
    val pendingPartial: Set[String] =
      if (!fs.exists(d0)) Set.empty
      else fs.listStatus(d0).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("tx-"))
        .flatMap { m =>
          val (txid, appends) = readMarker(fs, m.getPath)
          val appliedAll = appends.forall(a =>
            txnAt.getOrElse(a.dir, Seq.empty).exists(_._2 == txid) ||
              // participant outside `dirs`: check its log (same
              // hint-served skeleton reads)
              (!dirs.contains(a.dir) && LakeLog.operations(a.dir)
                .exists(_._2 == s"txn($txid)")))
          if (appliedAll) None else Some(txid)
        }.toSet
    val cut = scala.collection.mutable.Map.from(heads)
    val hidden = scala.collection.mutable.Set.from(pendingPartial)
    var changed = true
    while (changed) {
      changed = false
      // hide: drop each table's cut below every hidden txn's apply
      for (d <- dirs; (v, id) <- txnAt(d) if hidden(id) && cut(d) >= v) {
        val earliest = LakeLog.versions(d).headOption.getOrElse(0L)
        if (v - 1 < earliest - 1)
          throw new IllegalStateException(
            s"cannot form a consistent view of $root: history of $d " +
              s"expired past transaction boundary txn($id) at v$v")
        cut(d) = v - 1
        changed = true
      }
      // tear check: a txn now excluded somewhere must be hidden everywhere
      for (d <- dirs; (v, id) <- txnAt(d)
           if v > cut(d) && !hidden(id)) {
        val visibleElsewhere = dirs.exists(o =>
          txnAt(o).exists { case (ov, oid) => oid == id && ov <= cut(o) })
        if (visibleElsewhere) { hidden += id; changed = true }
      }
    }
    dirs.map { d =>
      val c = cut(d)
      val earliest = LakeLog.versions(d).headOption.getOrElse(0L)
      if (c < 0) d -> None
      else if (c < earliest)
        throw new IllegalStateException(
          s"cannot form a consistent view of $root: $d needs v$c but " +
            s"earliest retained is v$earliest (history expired)")
      else d -> Some(c)
    }.toMap
  }
}
