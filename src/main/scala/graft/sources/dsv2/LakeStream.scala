package graft.sources.dsv2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Snapshot-version offset; `json` lands in the checkpoint log. `-1`
  * means "before the first commit", so batch (start, end] replays
  * manifests start+1 .. end. `snapshotStart` marks a FRESH stream
  * positioned at an expiry-trimmed log: the next batch must emit
  * version v+1's COMPLETE file set (the initial snapshot), not its
  * append delta — a resumed checkpoint at the same numeric position
  * already consumed the history that delta builds on, so the flag is
  * what keeps the two cases apart. Plain numeric json stays the wire
  * format for ordinary offsets (old checkpoints parse unchanged).
  */
case class LakeVersionOffset(v: Long, snapshotStart: Boolean = false)
    extends Offset {
  override def json(): String =
    if (snapshotStart) s"""{"v":$v,"snapshotStart":true}""" else v.toString
}

object LakeVersionOffset {
  def parse(json: String): LakeVersionOffset =
    json.toLongOption.map(LakeVersionOffset(_)).getOrElse {
      val m = """\{"v":(-?\d+),"snapshotStart":true\}""".r
      json.trim match {
        case m(v) => LakeVersionOffset(v.toLong, snapshotStart = true)
        case other => throw new IllegalArgumentException(
          s"unparseable lake stream offset: '$other'")
      }
    }
}

/** Streaming read of a [[LakeTable]]: the [[LakeLog]] IS the
  * write-ahead log, so the stream's offsets are snapshot VERSIONS and a
  * micro-batch reads exactly the files the commits in its version range
  * ADDED — the change-data-feed-as-source design (Delta's streaming
  * source, Iceberg's incremental read). Contracts:
  *
  *   - restartable: the offset in the checkpoint is a version number;
  *     a restarted query resumes from the committed version with no
  *     replays and no gaps (manifests are immutable once published);
  *   - append-flowing: append/bootstrap/create commits stream through;
  *     a `dataChange=false` commit (compaction/clustering — same rows,
  *     new layout) is skipped NATIVELY, so table maintenance never
  *     disturbs consumers; a data-changing REPLACE commit (copy-on-write
  *     merge/update/delete) is not expressible as an append delta — it
  *     FAILS LOUD by default, or is skipped wholesale under
  *     `skipChangeCommits` (the same semantics Delta exposes) so
  *     downstream consumers at least keep their append-only invariant
  *     explicit;
  *   - bounded planning: each batch opens only the footers of its added
  *     files; column pruning and row-group stats narrowing apply per
  *     batch exactly as in the batch scan (shared
  *     [[LakeTableIO.planRowGroups]]).
  *
  * At scale a micro-batch is "the files commit N added" — planning cost
  * tracks the COMMIT size, never the table size.
  */
class LakeMicroBatchStream(dir: String, projected: StructType,
                           pushed: Array[Filter],
                           skipChangeCommits: Boolean = false,
                           startingVersion: Option[Long] = None,
                           maxCommitsPerBatch: Long = 8L,
                           maxRowsPerTrigger: Option[Long] = None,
                           maxFilesPerTrigger: Option[Int] = None,
                           cdc: Boolean = false,
                           consumed: Array[Filter] = Array.empty,
                           proven: Array[Filter] = Array.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** The limit Spark hands back to `latestOffset` on ordinary triggers:
    * derived from the `maxRowsPerTrigger` / `maxFilesPerTrigger` source
    * options (both set → composite, tightest wins); with neither, the
    * default `allAvailable`, which this source paces by
    * `maxCommitsPerBatch` (see [[latestOffset]]).
    */
  override def getDefaultReadLimit: ReadLimit = {
    val ls = Seq(maxRowsPerTrigger.map(ReadLimit.maxRows),
      maxFilesPerTrigger.map(ReadLimit.maxFiles)).flatten
    ls match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  // AvailableNow pins the drain target at start; a live writer landing
  // more commits mid-run doesn't extend this execution
  @volatile private var target: Option[Long] = None

  private def headVersion: Long =
    LakeLog.current(dir).map(_.version).getOrElse(-1L)

  // expiry trims the log's front; the stream must neither crash on the
  // vacuumed prefix nor silently skip data a checkpoint already claimed.
  // The anchor is the CONTIGUOUS retained suffix, not the global
  // earliest: expire keeps tagged snapshots older than the tail, and a
  // replay seeded at a tagged island would crash on the vacuumed
  // versions after it (LakeLog.contiguousStart).
  private def earliestVersion: Option[Long] = LakeLog.contiguousStart(dir)

  override def prepareForTriggerAvailableNow(): Unit =
    target = Some(headVersion)

  /** A fresh checkpoint starts at `startingVersion` (inclusive — the
    * backfill cursor, a version id or tag via the startingVersion
    * option), else at the earliest CONTIGUOUSLY retained version (a
    * tagged island older than the retained tail serves pinned reads
    * only — the versions after it are vacuumed) — on a table whose
    * old manifests were expired, the first batch is that snapshot's
    * complete state (snapshot-then-increments, Delta's initial-snapshot
    * semantics) instead of a crash on the vacuumed v0. A resumed query
    * ignores this and reads its checkpoint.
    */
  override def initialOffset(): Offset = {
    val earliest = earliestVersion.getOrElse(throw new IllegalStateException(
      s"cannot stream unlogged directory $dir: the batch read lists raw " +
        "files, but the stream replays COMMITS — one committed write " +
        "bootstraps the log (v0 = the observed files)"))
    startingVersion match {
      case Some(sv) =>
        require(sv >= earliest,
          s"startingVersion $sv of $dir is expired or stranded behind a " +
            s"history gap (earliest contiguously retained: v$earliest; " +
            "a tagged snapshot older than that serves pinned reads only)")
        require(sv <= headVersion + 1,
          s"startingVersion $sv of $dir is beyond the head " +
            s"(v$headVersion) — a typo'd backfill cursor would silently " +
            "skip data")
        LakeVersionOffset(sv - 1)
      case None =>
        // snapshotStart only matters when expiry trimmed the front: the
        // first retained manifest then carries state its own `added`
        // doesn't cover
        LakeVersionOffset(earliest - 1, snapshotStart = earliest > 0)
    }
  }

  override def deserializeOffset(json: String): Offset =
    LakeVersionOffset.parse(json)

  /** Admission control. The pacing unit of this source is the COMMIT
    * (a micro-batch replays a version range), so with no explicit
    * limit — Spark passes `ReadLimit.allAvailable()` when no trigger
    * option is set — at most `maxCommitsPerBatch` commits advance per
    * micro-batch (a source option, default 8): a backlogged table (a
    * week of commits after a consumer outage) drains as a paced
    * sequence of commit-sized batches rather than one unbounded
    * catch-up batch. An EXPLICIT limit from Spark's admission-control
    * contract is honored on top: `maxRows` advances commits while the
    * cumulative `addedRows` stays within the cap, `maxFiles` while the
    * cumulative added-file count does, composite takes the tightest —
    * always at least one commit, so the stream can't stall.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[LakeVersionOffset]
    val head = target.getOrElse(headVersion)
    if (so.v > head)
      // silently regressing would commit an empty batch and skip the
      // recreated table's entire contents with no error
      throw new IllegalStateException(
        s"checkpointed offset v${so.v} of $dir is ahead of the table " +
          s"head v$head — the table was truncated or recreated under " +
          "this checkpoint; start over with a fresh checkpoint")
    if (so.v >= head) return so // nothing new; keep the flag stable
    // an ADVANCED end offset must drop snapshotStart: the batch it
    // closes consumed the initial snapshot, and the next batch resumes
    // with ordinary append deltas
    LakeVersionOffset(advanceTo(so.v, head, limit))
  }

  /** Walk commits (from, head], stopping at the limit's budget; the
    * first commit is always admitted. Driver-side manifest metadata
    * reads, bounded by the advance length.
    */
  private def advanceTo(from: Long, head: Long, limit: ReadLimit): Long = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxFiles, ReadMaxRows}
    limit match {
      case c: CompositeReadLimit =>
        c.getReadLimits.map(advanceTo(from, head, _)).min
      case r: ReadMaxRows  => walk(from, head, r.maxRows())(_.addedRows)
      case f: ReadMaxFiles => walk(from, head, f.maxFiles())(_.added.size)
      case _: ReadAllAvailable => math.min(head, from + maxCommitsPerBatch)
      case _ => math.min(head, from + maxCommitsPerBatch)
    }
  }

  private def walk(from: Long, head: Long, budget: Long)
                  (cost: LakeLog.Snapshot => Long): Long = {
    var v = from
    var spent = 0L
    while (v < head) {
      // the costs (addedRows / added.size) are manifest fields
      val c = math.max(0L, cost(LakeLog.snapshotAt(dir, v + 1)))
      if (v > from && spent + c > budget) return v
      spent += c
      v += 1
    }
    v
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "admission-control source: latestOffset(start, limit) is the entry point")

  override def reportLatestOffset(): Offset =
    LakeVersionOffset(target.getOrElse(headVersion))

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[LakeVersionOffset]
    val a = so.v
    val b = end.asInstanceOf[LakeVersionOffset].v
    earliestVersion.foreach { earliest =>
      if (a + 1 < earliest)
        throw new IllegalStateException(
          s"checkpointed offset v$a of $dir fell behind history expiry " +
            s"(earliest retained: v$earliest) — the commits this " +
            "consumer never saw are vacuumed; restart with a fresh " +
            "checkpoint (optionally startingVersion) once downstream " +
            "is reconciled")
    }
    // CHANGE-FEED mode ([[LakeChangesScan]]): each version in the batch
    // contributes row-level change EVENTS — including merge-on-read
    // commits, the class the append-only mode below must reject.
    // skipChangeCommits here skips copy-on-write replaces (the one
    // commit class row events cannot be derived for).
    if (cdc) {
      val cols = LakeTableIO.columnRefs(projected)
      return (a + 1 to b).flatMap { v =>
        val asSnapshot = so.snapshotStart && v == a + 1
        val snap = LakeLog.snapshotAt(dir, v)
        // equality-delete commits (the upsert-epoch shape) are fully
        // representable (r15): planCdcVersion derives delete events
        // from the refs' key sets and insert events from the commit's
        // own post-images; the opening snapshot subtracts carried
        // refs like the batch scan. skipChangeCommits skips
        // ref-adding versions like any other change commit. Same
        // contract as the batch change feed.
        if (skipChangeCommits && !asSnapshot &&
            ((snap.removed.nonEmpty && snap.dataChange) ||
             snap.eqs.exists(_.version == v)))
          Seq.empty
        else
          LakeTableIO.planCdcVersion(dir, snap, cols, pushed, asSnapshot)
      // per-BATCH row-path pin when any split is positional; an
      // append-only backlog drains columnar (constant CDC vectors)
      }.toArray match {
        case ps => LakeTableIO.pinRowIfPositionalCdc(ps)
      }
    }
    // manifest stats + partition tuples for each version's files, so
    // the batch's planning prunes pushed-filter-excluded files without
    // footer reads too
    val stats = scala.collection.mutable.Map
      .empty[String, LakeStats.FileStats]
    val parts = scala.collection.mutable.Map.empty[String, Seq[String]]
    val dvs = scala.collection.mutable.Map.empty[String, Seq[String]]
    // live refs of the OPENING snapshot (subtracted from its
    // complete-state emit below, like the batch scan); later deltas'
    // added files postdate every carried ref by the sequencing rule
    var openEqs: Seq[LakeEq.EqRef] = Seq.empty
    val added = (a + 1 to b).flatMap { v =>
      val asSnap = so.snapshotStart && v == a + 1
      // delta commits contribute only their added files
      val snap = LakeLog.snapshotAt(dir, v)
      // append-only replay: a version that ADDED an eq ref silently
      // deletes rows this stream already emitted — loud by default
      // (never wrong); under skipChangeCommits its post-images flow
      // and the deletes are skipped, exactly the merge-on-read
      // treatment below ("inserts flow, deletes don't"). Carried-only
      // versions replay exactly (their added files postdate every
      // carried ref); the CDC view represents the deletes too.
      // the OPENING snapshot is exempt: it emits complete state (all
      // refs subtracted below), not a delta over already-emitted rows
      require(asSnap || skipChangeCommits ||
          !snap.eqs.exists(_.version == v),
        s"graft_lake $dir: version $v committed equality deletes — " +
          "a streaming read cannot apply them retroactively; set " +
          "skipChangeCommits=true for the append-only view, stream " +
          "the CDC view (db.t.changes), or CALL " +
          "system.rewrite_deletes and restart past the rewrite")
      stats ++= snap.stats
      parts ++= snap.parts
      if (so.snapshotStart && v == a + 1) {
        // fresh stream on an expiry-trimmed log: the first retained
        // manifest's COMPLETE file set is the initial snapshot — WITH
        // its deletion vectors subtracted, or a fresh stream on a
        // merge-on-read table would emit rows already deleted before
        // the stream started (later deltas stay append-only: their
        // added files carry no DVs at their own commit). Live
        // equality refs subtract the same way (sequenceability loud).
        LakeEq.requireSequenceable(dir, snap.eqs, snap.files, snap.stats)
        openEqs = snap.eqs
        dvs ++= snap.dvs
        snap.files
      }
      else if (!snap.dataChange) Seq.empty // compaction/clustering: same
                                           // rows, new layout — no emit
      else if (snap.removed.nonEmpty) {
        if (skipChangeCommits) Seq.empty
        else throw new IllegalStateException(
          s"streaming read of $dir hit replace commit v$v " +
            s"(${snap.operation}, removes ${snap.removed.size} files); " +
            "a copy-on-write rewrite has no append delta — set option " +
            "skipChangeCommits=true to skip such commits, or stream the " +
            "CDC view (LakeSnapshots.changes) instead")
      } else if (snap.dvAdded.nonEmpty) {
        // merge-on-read DML: rows vanish without any file changing
        // hands — not expressible as an append delta either
        if (skipChangeCommits) snap.added // inserts flow, deletes don't
        else throw new IllegalStateException(
          s"streaming read of $dir hit merge-on-read commit v$v " +
            s"(${snap.operation}, deletion-vector changes on " +
            s"${snap.dvAdded.size} files); set skipChangeCommits=true " +
            "for the append-only view, or stream the CDC view " +
            "(LakeSnapshots.changes) instead")
      } else snap.added
    }
    // hidden-partitioning file pruning applies to micro-batches too:
    // a stream filtered to one partition plans only that partition's
    // share of each commit
    // (defensive: Spark does not currently run filter pushdown for
    // micro-batch DSv2 relations, so `pushed` is empty on this path —
    // the prune goes live the release that changes; the batch-mode
    // `changes` reads exercise the same call with real filters)
    val specs =
      try LakePartitioning.bindAll(LakePartitioning.specsOf(dir),
        LakeTableIO.tableSchema(dir))
      catch { case _: Exception => IndexedSeq.empty }
    // consumed-filter guard (batch scans disable consumption for
    // stream-configured builders, but a plain readStream shares this
    // path): any undecided file under consumed filters must fail LOUD,
    // not leak rows past a filter Spark dropped
    if (consumed.nonEmpty && !LakePartitioning.allDecided(
        added.map(new Path(dir, _)), parts.toMap, specs))
      throw new IllegalStateException(
        s"graft_lake $dir stream: consumed partition filters cannot " +
          "be enforced — a commit file carries no resolvable tuple")
    val (kept, _) = LakePartitioning.prune(
      added.map(new Path(dir, _)), parts.toMap, specs, pushed)
    // stats-proven consumed filters: every batch's KEPT files must
    // prove them too (the pushdown-time proof only saw the
    // then-current snapshot; later commits are this stream's whole
    // point) — verified after partition pruning, because a file the
    // exactly-enforced partition filters drop feeds no rows; same
    // loud contract as the partition guard
    if (proven.nonEmpty) {
      val refs = LakeTableIO.columnRefs(
        LakeTableIO.tableSchema(dir))
      kept.find(p => !stats.get(p.getName).exists(st =>
        LakeStats.mustMatchFile(st, refs, proven)))
        .foreach(p => throw new IllegalStateException(
          s"graft_lake $dir stream: stats-consumed filters " +
            s"${proven.mkString(", ")} cannot be enforced — commit " +
            s"file ${p.getName}'s stats cannot prove them"))
    }
    val planned = LakeTableIO.planRowGroups(kept,
      LakeTableIO.columnRefs(projected), pushed, pruneGroups = true,
      dvs = dvs.toMap, stats = stats.toMap).parts
    // opening-snapshot eq subtraction (no-op when openEqs is empty;
    // delta files postdate every carried ref, so only snapshot files
    // attach)
    if (openEqs.isEmpty) planned
    else
      // attachment is per-file (key-stat/tuple scoping may leave some
      // splits bare) — safe since r16: the COLUMNAR reader subtracts
      // eq-matched rows itself, and eligibility no longer consults
      // attachment, so the per-batch columnar answer stays uniform
      // with no forceRow pin and no head-derived factory flag to go
      // stale under a concurrent retirement
      LakeTableIO.attachEq(dir, planned, openEqs, stats.toMap,
        LakeTableIO.tableSchema(dir), parts.toMap)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(projected)

  override def commit(offset: Offset): Unit = ()
  override def stop(): Unit = ()
}
