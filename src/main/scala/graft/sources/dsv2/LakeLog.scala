package graft.sources.dsv2

import java.util.{ArrayList, HashMap => JHashMap, List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The snapshot log that turns [[LakeTable]] from a directory of files
  * into a VERSIONED table — the transaction-log design every production
  * lakehouse format (Delta, Iceberg, Hudi) converges on, built here from
  * first principles on two filesystem primitives:
  *
  *   - a manifest per version (`_log/v%020d.json`) listing the COMPLETE
  *     data-file set of that snapshot plus the commit's added/removed
  *     delta — O(1) snapshot resolution, no log replay;
  *   - atomic publish via rename-without-overwrite: a commit stages its
  *     manifest under a temp name and renames to `v<N>.json`; two racing
  *     writers both targeting version N can't both win the rename, and
  *     the loser re-reads the new head and retries (optimistic
  *     concurrency). Appends always merge; a replace (copy-on-write DML)
  *     whose covered files are no longer current CONFLICTS and fails
  *     loud rather than resurrecting rows.
  *
  * Replaced data files are retained on disk (dropped from the manifest
  * only) — that is what makes time travel, rollback, version-diff CDC,
  * and the streaming source possible; [[LakeLog.expire]] is the explicit
  * vacuum that trades history for space.
  *
  * Scale notes: one flat JSON manifest per version is the design. It
  * lists every data file with its stats and partition tuple, and is read
  * once per query plan on the driver, never shipped to executors. A
  * manifest therefore grows with the table's file count, and a commit
  * rewrites it whole: O(files) manifest I/O per commit and per plan.
  * That is the accepted limit at this system's scale (a weekly table of
  * a few files); a table with millions of files would need a manifest
  * split into shared, reusable parts, and the tree encoding that once
  * did this is no longer read (see `readManifestOnce`).
  *
  * Unlogged directories interop both ways: reads fall back to a raw
  * directory listing, and the first logged commit BOOTSTRAPS a v0
  * manifest from that listing, upgrading the table in place.
  */
object LakeLog {
  private val mapper = new ObjectMapper()

  /** Test instrumentation: manifest reads and `_log` directory listings
    * performed since process start. Specs pin head resolution at O(1)
    * of both after the head hint exists; production code never reads
    * these.
    */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong()
  val logListings = new java.util.concurrent.atomic.AtomicLong()

  /** One committed table version. `files` is the complete data-file set
    * (names relative to the table dir); `added`/`removed` are this
    * commit's delta against its parent.
    *
    * `dvs` is the complete DELETION-VECTOR map of the snapshot: data
    * file → the DV sidecar files whose position sets are subtracted at
    * read time (merge-on-read DML — a DELETE/MERGE writes positions
    * instead of rewriting files; see [[graft.sources.dsv2.LakeTable]]'s
    * `write.mode=merge-on-read`). Complete-set semantics like `files`:
    * each manifest carries the full map, so time travel to any version
    * applies exactly that version's deletes. A copy-on-write replace
    * that removes a data file drops its DVs with it.
    *
    * `dataChange=false` marks a commit that rearranges bytes without
    * changing table contents (compaction, clustering) — incremental
    * consumers (the streaming source, CDC) skip it wholesale.
    *
    * `updatePre`/`updatePost` are the commit-scoped UPDATE-PAIRING
    * annotation a merge-on-read UPDATE/MERGE leaves for the change
    * feed (Delta CDF's `_change_data` idea folded into the manifest):
    * `updatePre` names the subset of this commit's `dvAdded` sidecars
    * whose positions are pre-images of updated rows (vs plain
    * deletes), `updatePost` the subset of `added` files holding the
    * corresponding post-image rows. Pure CDC metadata — table state
    * (files/dvs) is complete without it, old manifests read as empty
    * (their events keep the unpaired insert/delete labels).
    *
    * `stats` is the complete per-file column-statistics map (data file
    * → [[LakeStats.FileStats]]), harvested at commit time for this
    * commit's added files and carried forward complete-set like
    * `files`, so planning prunes whole files from manifest metadata
    * without opening their footers (see [[LakeStats]]). Files without
    * an entry (pre-stats vintages, bootstrap sweeps) plan via their
    * footer as before.
    *
    * `parts` is the complete per-file PARTITION-TUPLE map of hidden
    * partitioning ([[LakePartitioning]]): data file → its transform
    * values in spec order (encoded slots). Complete-set like `files`;
    * tuple-less entries (unpartitioned tables, legacy vintages) are
    * simply absent — planners keep such files conservatively.
    */
  final case class Snapshot(version: Long, timestampMs: Long,
                            operation: String, files: Seq[String],
                            added: Seq[String], removed: Seq[String],
                            addedRows: Long, dataChange: Boolean = true,
                            dvs: Map[String, Seq[String]] = Map.empty,
                            dvAdded: Map[String, Seq[String]] = Map.empty,
                            stats: Map[String, LakeStats.FileStats] =
                              Map.empty,
                            updatePre: Map[String, Seq[String]] = Map.empty,
                            updatePost: Seq[String] = Seq.empty,
                            parts: Map[String, Seq[String]] = Map.empty,
                            // live EQUALITY-DELETE files ([[LakeEq]]):
                            // each applies to data files with a KNOWN
                            // add version < its commit version. Carried
                            // forward commit to commit (O(#deletes)
                            // manifest space, never O(files)); retired
                            // only by rewrite_deletes / restored
                            // verbatim by rollback (eqsOverride).
                            eqs: Seq[LakeEq.EqRef] = Seq.empty)

  def logDir(dir: String): Path = new Path(dir, "_log")

  /** A branch is a WRITABLE ref: its own manifest sequence under
    * `_log/branches/<name>/`, seeded with a copy of the fork-point
    * manifest (complete-file-set semantics make forking free). Data
    * files of branch commits live in the same table dir, invisible to
    * main until [[fastForward]].
    */
  def branchLogDir(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch names are [A-Za-z0-9._-]+, got '$name'")
    // an all-digit branch would shadow numeric snapshot ids in
    // VERSION AS OF (branch resolution runs first) — reject at creation
    require(!name.forall(_.isDigit),
      s"branch name '$name' is all digits — it would shadow numeric " +
        "snapshot-id resolution in VERSION AS OF")
    new Path(logDir(dir), s"branches/$name")
  }

  private def ld(dir: String, branch: Option[String]): Path =
    branch.fold(logDir(dir))(branchLogDir(dir, _))

  private def fsFor(dir: String): FileSystem =
    new Path(dir).getFileSystem(new Configuration())

  private def manifestName(v: Long): String = f"v$v%020d.json"

  private val ManifestRe = "^v(\\d{20})\\.json$".r

  /** Committed versions present in the (main or branch) log, ascending. */
  def versions(dir: String, branch: Option[String] = None): Seq[Long] = {
    val fs = fsFor(dir)
    val d = ld(dir, branch)
    logListings.incrementAndGet()
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.flatMap(s =>
      ManifestRe.findFirstMatchIn(s.getPath.getName).map(_.group(1).toLong))
      .sorted
  }

  def isLogged(dir: String): Boolean = versions(dir).nonEmpty

  /** Start of the CONTIGUOUS version suffix ending at head — the oldest
    * version from which every later manifest is still retained.
    * [[expire]] keeps TAGGED snapshots older than the retention tail,
    * which leaves holes: a tagged v2 on a table whose tail is v8..v10
    * yields versions {2, 8, 9, 10}. The tag serves pinned time travel,
    * but an incremental replay cannot START there — v3..v7 are
    * vacuumed — so every "earliest usable version" decision (streaming
    * initial offset, backfill cursor validation) anchors here, not at
    * the global minimum.
    */
  def contiguousStart(dir: String): Option[Long] = {
    val vs = versions(dir)
    if (vs.isEmpty) None
    else {
      var i = vs.length - 1
      while (i > 0 && vs(i - 1) == vs(i) - 1) i -= 1
      Some(vs(i))
    }
  }

  def snapshotAt(dir: String, version: Long,
                 branch: Option[String] = None): Snapshot = {
    val fs = fsFor(dir)
    val p = new Path(ld(dir, branch), manifestName(version))
    require(fs.exists(p),
      s"no snapshot v$version in $dir${branch.fold("")(b => s"@$b")} " +
        s"(expired or never committed); " +
        s"available: ${versions(dir, branch).mkString(", ")}")
    readManifest(fs, p)
  }

  /** Head resolution — the per-query-plan hot path. The naive form
    * LISTS the whole `_log` dir (O(versions) directory entries on
    * every plan; a long-lived table accumulates 10⁵+ manifests), so
    * every MAIN commit also refreshes a tiny `_head.json` HINT (the
    * `_last_checkpoint` idea from Delta, possible here in its smallest
    * form because every manifest is already a self-contained complete
    * snapshot — there is nothing to compact, only the POINTER to
    * maintain). Resolution reads the hint and probes FORWARD with
    * existence checks until the first missing version: O(1 + commits
    * since the hint was written), which is O(1) in practice because the
    * hint is refreshed per commit. The hint is best-effort — stale,
    * missing, or unreadable hints (or a hint whose manifest expired,
    * impossible under per-commit refresh but handled anyway) fall back
    * to the listing; correctness never depends on it. Branch heads use
    * the listing (branches are short-lived audit refs).
    */
  def current(dir: String, branch: Option[String] = None): Option[Snapshot] =
    headVersion(dir, branch).map(snapshotAt(dir, _, branch))

  /** Head VERSION without reading its manifest — what callers that
    * only range over versions (CDC planning) need.
    */
  def currentVersion(dir: String): Option[Long] = headVersion(dir, None)

  /** Head VERSION resolution (hint + forward probe / listing fallback)
    * without reading any manifest.
    */
  private def headVersion(dir: String,
                          branch: Option[String]): Option[Long] =
    branch match {
      case Some(_) => versions(dir, branch).lastOption
      case None =>
        headHint(dir) match {
          case Some(h) =>
            val fs = fsFor(dir)
            if (!fs.exists(new Path(logDir(dir), manifestName(h))))
              versions(dir).lastOption // stale hint
            else {
              var v = h
              while (fs.exists(new Path(logDir(dir), manifestName(v + 1))))
                v += 1
              Some(v)
            }
          case None => versions(dir).lastOption
        }
    }

  /** version → operation string for every retained manifest of a REF
    * (main or a branch — r13 verdict item 7 extended the index per
    * branch, so branch-heavy WAP workflows keep O(new-versions)
    * planning too), served from a lazily-extended hint (`_ops.json`
    * in the ref's own log dir — the epoch-ref pattern): a call reads
    * the hint, loads only manifests ABOVE its high-water, and rewrites
    * the hint covering the new head.
    * Amortized manifest reads per call = new versions since the last
    * call — what lets [[LakeTx.consistentView]], [[expire]]'s marker
    * scan, and [[lastCommittedEpoch]]'s branch fallback plan cuts on a
    * long history without touching every manifest. The hint is
    * derived data over immutable manifests: racing writers converge,
    * a torn/missing hint just means a full rescan, entries
    * for expired versions drop out on rewrite, and a dropped branch
    * takes its hint with its log dir.
    */
  def operations(dir: String,
                 branch: Option[String] = None): Seq[(Long, String)] = {
    val fs = fsFor(dir)
    val vs = versions(dir, branch)
    if (vs.isEmpty) return Seq.empty
    val p = new Path(ld(dir, branch), "_ops.json")
    val cached: Map[Long, String] =
      try {
        if (!fs.exists(p)) Map.empty
        else {
          val in = fs.open(p)
          val bytes = try in.readAllBytes() finally in.close()
          mapper.readValue(bytes, classOf[JMap[String, Object]])
            .asScala.map { case (k, v) =>
              k.toLong -> String.valueOf(v) }.toMap
        }
      } catch { case _: Exception => Map.empty } // torn: full rescan
    var fresh = 0
    val entries = vs.map { v =>
      v -> cached.getOrElse(v, {
        fresh += 1
        snapshotAt(dir, v, branch).operation
      })
    }
    // rewrite when anything changed: new versions appended or expired
    // ones dropped (keeps the hint from growing past retention)
    if (fresh > 0 || cached.size != entries.size)
      try {
        val m = new JHashMap[String, Object]()
        entries.foreach { case (v, op) => m.put(v.toString, op) }
        val tmp = new Path(ld(dir, branch),
          s".tmp-ops-${java.util.UUID.randomUUID()}.json")
        val out = fs.create(tmp, true)
        try out.write(mapper.writeValueAsBytes(m)) finally out.close()
        if ("file".equalsIgnoreCase(fs.getScheme))
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(p.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else { fs.delete(p, false); fs.rename(tmp, p) }
      } catch { case _: Exception => () } // best-effort: derived data
    entries
  }

  /** History-graft marker (`_log/_histgraft.json`): the highest MAIN
    * version at which non-linear history was introduced — a rollback
    * restoring a past state, or a fast_forward publishing branch
    * commits. Consumers that ride "every live row passed through an
    * enforced write after time T" guarantees (the CHECK-constraint
    * contradiction prune) compare their validation watermark against
    * it. Written BEFORE the grafting commit publishes, so a crash
    * between the two only over-disarms (the marker claims a graft
    * that never landed — conservative); an unreadable marker reports
    * Long.MaxValue for the same reason. Missing = no grafts ever.
    */
  // Legacy single-file marker (pre-r14 layout): still READ for tables
  // that carry one, never written anymore — its delete-then-rename
  // update on non-local filesystems had a window where a concurrent
  // historyGraftVersion saw NO marker ('no grafts ever') and wrongly
  // re-armed contradiction pruning. New markers are monotonically-NAMED
  // write-once files (`_histgraft-<version>.json`); readers take the
  // max over a listing, so an old marker is never invisible while a
  // newer one lands.
  private def histGraftLegacyPath(dir: String): Path =
    new Path(logDir(dir), "_histgraft.json")

  private val HistGraftPrefix = "_histgraft-"

  private def histGraftVersionedPath(dir: String, v: Long): Path =
    new Path(logDir(dir), f"$HistGraftPrefix$v%020d.json")

  def historyGraftVersion(dir: String): Option[Long] = {
    val fs = fsFor(dir)
    try {
      val ld0 = logDir(dir)
      val versioned: Seq[Long] =
        if (!fs.exists(ld0)) Seq.empty
        else fs.listStatus(ld0).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith(HistGraftPrefix) && n.endsWith(".json"))
          .map(_.stripPrefix(HistGraftPrefix).stripSuffix(".json"))
          .map(s => s.toLongOption.getOrElse(Long.MaxValue)) // torn name:
          // conservative (claims a graft newer than any watermark)
      val legacy: Option[Long] = {
        val p = histGraftLegacyPath(dir)
        if (!fs.exists(p)) None
        else try {
          val in = fs.open(p)
          val bytes = try in.readAllBytes() finally in.close()
          Some(mapper.readValue(bytes, classOf[JMap[String, Object]])
            .get("version").asInstanceOf[Number].longValue())
        } catch { case _: Exception => Some(Long.MaxValue) } // conservative
      }
      (versioned ++ legacy).maxOption
    } catch { case _: Exception => Some(Long.MaxValue) } // conservative
  }

  /** Record a graft at `version` (monotonic max); throws on failure —
    * the caller must NOT publish the grafting commit without the
    * marker, or a constraint prune could serve wrong answers. The new
    * marker is a write-once versioned file put IN PLACE before any
    * older markers are (best-effort) cleaned up, so concurrent readers
    * always see at least one marker ≥ the pre-existing maximum.
    */
  private[graft] def noteHistoryGraft(dir: String, version: Long): Unit = {
    val fs = fsFor(dir)
    val cur = historyGraftVersion(dir).getOrElse(-1L)
    if (cur >= version && cur != Long.MaxValue) return
    fs.mkdirs(logDir(dir))
    val noted =
      math.max(version, if (cur == Long.MaxValue) version else cur)
    val dest = histGraftVersionedPath(dir, noted)
    if (!fs.exists(dest)) {
      val m = new JHashMap[String, Object]()
      m.put("version", java.lang.Long.valueOf(noted))
      val tmp = new Path(logDir(dir),
        s".tmp-histgraft-${java.util.UUID.randomUUID()}.json")
      val out = fs.create(tmp, true)
      try out.write(mapper.writeValueAsBytes(m)) finally out.close()
      if ("file".equalsIgnoreCase(fs.getScheme))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(dest.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else if (!fs.rename(tmp, dest)) {
        // a concurrent graft may have placed the same versioned name —
        // that marker serves identically; anything else fails loud
        fs.delete(tmp, false)
        if (!fs.exists(dest))
          throw new java.io.IOException(
            s"failed to record history graft for $dir")
      }
    }
    // the new marker is visible: retiring older ones (and the legacy
    // single-file marker) is pure cleanup — failures are harmless
    // because readers take the max over whatever remains
    try {
      fs.listStatus(logDir(dir)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(HistGraftPrefix) && n.endsWith(".json") &&
            n != dest.getName &&
            n.stripPrefix(HistGraftPrefix).stripSuffix(".json")
              .toLongOption.exists(_ < noted))
          fs.delete(st.getPath, false)
      }
      // the legacy marker retires only when READABLE and covered by the
      // new one — deleting an unreadable legacy file would downgrade
      // its conservative Long.MaxValue claim to `noted`
      val lp = histGraftLegacyPath(dir)
      if (fs.exists(lp)) {
        val in = fs.open(lp)
        val bytes = try in.readAllBytes() finally in.close()
        val v = mapper.readValue(bytes, classOf[JMap[String, Object]])
          .get("version").asInstanceOf[Number].longValue()
        if (v <= noted) fs.delete(lp, false)
      }
    } catch { case _: Exception => () }
  }

  private def headHintPath(dir: String): Path =
    new Path(logDir(dir), "_head.json")

  private def headHint(dir: String): Option[Long] =
    try {
      val fs = fsFor(dir)
      val p = headHintPath(dir)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        Some(mapper.readValue(bytes, classOf[JMap[String, Object]])
          .get("version").asInstanceOf[Number].longValue())
      }
    } catch { case _: Exception => None } // torn/unreadable: fall back

  /** Best-effort post-commit hint refresh; racing writers may land out
    * of order (a LOWER hint just means an extra probe or two), and any
    * failure is swallowed — the listing fallback stays authoritative.
    */
  private def writeHeadHint(dir: String, version: Long): Unit =
    try {
      val fs = fsFor(dir)
      val tmp = new Path(logDir(dir),
        s".tmp-head-${java.util.UUID.randomUUID()}.json")
      val out = fs.create(tmp, true)
      try out.write(mapper.writeValueAsBytes(java.util.Map.of(
        "version", java.lang.Long.valueOf(version))))
      finally out.close()
      val dest = headHintPath(dir)
      if ("file".equalsIgnoreCase(fs.getScheme))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(dest.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else { fs.delete(dest, false); fs.rename(tmp, dest) }
    } catch { case _: Exception => () }

  /** Latest snapshot whose commit time is <= `tsMs` (timestamp travel). */
  def snapshotAsOfTime(dir: String, tsMs: Long): Snapshot = {
    val all = versions(dir).map(snapshotAt(dir, _))
    all.filter(_.timestampMs <= tsMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot in $dir at or before timestamp $tsMs " +
          s"(earliest: ${all.headOption.map(_.timestampMs)})"))
  }

  private def readManifest(fs: FileSystem, p: Path): Snapshot = {
    // Manifests are write-once, but the PUBLISH rename is not atomic on
    // every filesystem w.r.t. readers — Hadoop's ChecksumFileSystem
    // moves the data file and its .crc sidecar in two steps, so a
    // reader racing the rename can see a transient ChecksumException
    // (caught live in LakeLogConcurrencySpec under 32-way commit
    // contention). Any read error on an existing manifest is therefore
    // transient; a bounded retry converges once the rename completes.
    var lastErr: java.io.IOException = null
    var attempt = 0
    while (attempt < 50) {
      attempt += 1
      try return readManifestOnce(fs, p)
      catch {
        case e: java.io.IOException =>
          lastErr = e
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(10) + 1)
      }
    }
    throw new java.io.IOException(
      s"manifest $p unreadable after $attempt attempts", lastErr)
  }

  private def readManifestOnce(fs: FileSystem, p: Path): Snapshot = {
    manifestReads.incrementAndGet()
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val m = mapper.readValue(bytes, classOf[JMap[String, Object]])
    // the retired manifest-tree encoding kept its file list in segment
    // sidecars and wrote no `files` key — read as flat it would be an
    // EMPTY table, so it fails loud instead (not retried: permanent)
    if (m.containsKey("segments"))
      throw new IllegalStateException(
        s"manifest $p uses the manifest-tree encoding (a `segments` " +
          "list instead of `files`), which is no longer read; only flat " +
          "manifests are supported")
    def strs(k: String): Seq[String] = m.get(k) match {
      case l: JList[_] => l.asScala.map(_.toString).toSeq
      case _           => Seq.empty
    }
    def lng(k: String): Long = m.get(k) match {
      case n: Number => n.longValue()
      case _         => 0L
    }
    val dataChange = m.get("dataChange") match {
      case b: java.lang.Boolean => b.booleanValue()
      case _                    => true // pre-flag manifests: assume data
    }
    def dvMap(k: String): Map[String, Seq[String]] = m.get(k) match {
      case dm: JMap[_, _] => dm.asScala.map { case (key, v) =>
        String.valueOf(key) -> (v match {
          case l: JList[_] => l.asScala.map(_.toString).toSeq
          case _           => Seq.empty[String]
        })
      }.toMap
      case _ => Map.empty // pre-DV manifests
    }
    Snapshot(lng("version"), lng("timestampMs"),
      String.valueOf(m.get("operation")), strs("files"), strs("added"),
      strs("removed"), lng("addedRows"), dataChange,
      dvMap("dvs"), dvMap("dvAdded"),
      LakeStats.fromJson(m.get("stats")), // pre-stats manifests: empty
      dvMap("updatePre"), strs("updatePost"), // pre-pairing: empty
      dvMap("parts"), // pre-partitioning manifests: empty
      eqs = LakeEq.fromJson(m.get("eqs"))) // pre-eq manifests: empty
  }

  /** Serialize `s` to `tmp` as one flat, self-contained manifest. */
  private def writeManifest(fs: FileSystem, tmp: Path, s: Snapshot): Unit = {
    val m = new JHashMap[String, Object]()
    m.put("version", java.lang.Long.valueOf(s.version))
    m.put("timestampMs", java.lang.Long.valueOf(s.timestampMs))
    m.put("operation", s.operation)
    def jl(xs: Seq[String]): JList[String] = {
      val l = new ArrayList[String](xs.size); xs.foreach(l.add); l
    }
    m.put("added", jl(s.added))
    m.put("removed", jl(s.removed))
    m.put("addedRows", java.lang.Long.valueOf(s.addedRows))
    m.put("dataChange", java.lang.Boolean.valueOf(s.dataChange))
    def putDvMap(k: String, dv: Map[String, Seq[String]]): Unit =
      if (dv.nonEmpty) {
        val dm = new JHashMap[String, Object]()
        dv.toSeq.sortBy(_._1).foreach { case (key, v) => dm.put(key, jl(v)) }
        m.put(k, dm)
      }
    putDvMap("dvs", s.dvs)
    putDvMap("dvAdded", s.dvAdded)
    putDvMap("updatePre", s.updatePre)
    if (s.updatePost.nonEmpty) m.put("updatePost", jl(s.updatePost))
    if (s.eqs.nonEmpty) m.put("eqs", LakeEq.toJson(s.eqs))
    m.put("files", jl(s.files))
    putDvMap("parts", s.parts)
    if (s.stats.nonEmpty) m.put("stats", LakeStats.toJson(s.stats))
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(m)) finally out.close()
  }

  /** Raw data-file listing (log-oblivious) — bootstrap + legacy reads. */
  def rawDataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
      .sorted
  }

  /** Commit a new version: `added` are freshly published file names,
    * `removed` the replaced ones (empty for appends). Returns the
    * committed snapshot. Retries on version races; throws
    * `ConcurrentModificationException` when a replace's covered files
    * are no longer current (another writer rewrote them first).
    */
  def commit(dir: String, operation: String, added: Seq[String],
             removed: Seq[String], addedRows: Long,
             dataChange: Boolean = true,
             branch: Option[String] = None,
             dvAdded: Map[String, Seq[String]] = Map.empty,
             updatePre: Map[String, Seq[String]] = Map.empty,
             updatePost: Seq[String] = Seq.empty,
             dedupeOnOperation: Boolean = false,
             addedParts: Map[String, Seq[String]] = Map.empty,
             dvsOverride: Option[Map[String, Seq[String]]] = None,
             // writer-built bloom filters per added file (col → base64),
             // attached to the harvested stats under field-id resolution
             addedBlooms: Map[String, Map[String, String]] = Map.empty,
             // writer-harvested exact column sums per added file
             // (col → (sum, abs-sum) decimal integer strings) — the
             // metadata-SUM/AVG facts; same attach rules as blooms
             addedSums: Map[String, Map[String, (String, String)]] =
               Map.empty,
             // writer-built KMV distinct-count sketches per added file
             // (col → base64) — the CBO column-statistics facts
             addedNdvs: Map[String, Map[String, String]] = Map.empty,
             // string (total, max) byte lengths per added file — the
             // CBO avgLen/maxLen facts
             addedLens: Map[String, Map[String, (String, String)]] =
               Map.empty,
             // writer-sampled value reservoirs per added file (col →
             // base64 doubles) — the CBO histogram facts ([[LakeHist]])
             addedHists: Map[String, Map[String, String]] = Map.empty,
             // ANALYZE backfill: full replacement FileStats for files
             // already in the snapshot (facts recomputed from their
             // immutable bytes — sums, sketches, blooms for vintages
             // that predate write-time harvesting). Entries for files
             // no longer current at commit time drop silently (their
             // stats left with them).
             statsAmend: Map[String, LakeStats.FileStats] = Map.empty,
             // EQUALITY-DELETE files committing WITH this commit
             // ([[LakeEq]]): (sidecar name, key columns, key count) —
             // their EqRef version is stamped with THIS commit's
             // version inside the retry loop, so the sequencing rule
             // ("applies to files added strictly before me") holds
             // even after a lost version race. The same commit's own
             // added files (the upsert's post-images) get addV = the
             // same version and are therefore never affected.
             eqAdded: Seq[(String, Seq[String], Long)] = Seq.empty,
             // partition tuples of eqAdded sidecars (sidecar name ->
             // versioned slots) when the key columns determine the
             // partition — Iceberg's partition-scoped delete files;
             // absent entries commit table-wide refs
             eqTuples: Map[String, Seq[String]] = Map.empty,
             // rewrite_deletes retirement / rollback restore: replace
             // the carried eq list verbatim (like dvsOverride)
             eqsOverride: Option[Seq[LakeEq.EqRef]] = None,
             // retirement by NAME (r16): remove exactly these refs
             // from the carried list, keeping any OTHERS — including
             // refs committed by a concurrent writer after the
             // retiring rewrite planned (recomputed per retry attempt
             // against the current head, so the concurrent ref
             // survives where a verbatim eqsOverride would silently
             // wipe it)
             eqsRetire: Seq[String] = Seq.empty,
             // SEQUENCE INHERITANCE (r16, Iceberg's data-sequence-
             // number rule for rewrites): per-added-file ADD-VERSION
             // override. A dataChange=false rewrite stamps its
             // outputs with the PLAN-time version instead of the
             // commit's own, so equality refs committed while the
             // rewrite was in flight (version > plan version) still
             // attach to the rewritten rows — maintenance no longer
             // has to fail on a concurrent upsert epoch
             addedSeqs: Map[String, Long] = Map.empty,
             // rollback: the TARGET snapshot's per-file stats applied
             // verbatim for files in the next set — facts and the add
             // version are facts of the immutable bytes + the original
             // commit sequencing, and re-stamping a restored file's
             // addV would detach it from the restored eq-delete list
             // (equality-deleted rows would resurrect)
             statsRestore: Map[String, LakeStats.FileStats] = Map.empty,
             // invoked inside the retry loop IMMEDIATELY before each
             // publish attempt — the write paths pass their constraint-
             // set guard here so the enforced-set read and the manifest
             // publish are adjacent on every attempt (a check hoisted
             // before the loop is a TOCTOU: a constraint added during
             // a lost version race would let unenforced rows publish
             // on the retry). Throwing aborts the commit; the caller's
             // cleanup path removes the published-but-uncommitted files.
             prePublish: () => Unit = () => ())
      : Snapshot = {
    val fs = fsFor(dir)
    fs.mkdirs(ld(dir, branch))
    // the update-pairing annotation only ever references THIS commit's
    // own artifacts — a dangling reference would mislabel CDC events
    updatePre.foreach { case (f, vs) =>
      val own = dvAdded.getOrElse(f, Seq.empty).toSet
      require(vs.nonEmpty && vs.forall(own),
        s"updatePre for $f references sidecars outside this commit's " +
          s"dvAdded: ${vs.filterNot(own).mkString(", ")}")
    }
    require(updatePost.forall(added.contains),
      s"updatePost references files outside this commit's added set: " +
        updatePost.filterNot(added.contains).mkString(", "))
    require(addedSeqs.keySet.subsetOf(added.toSet),
      "addedSeqs names files outside this commit's added set: " +
        addedSeqs.keySet.diff(added.toSet).mkString(", "))
    // manifest stats for this commit's files: ONE local footer read per
    // added file, at write time, so no scan ever has to — hoisted out
    // of the retry loop (the added set never changes across attempts).
    // Writer-built blooms attach to their column's stats entry (keyed
    // by the file-local name the writer used, which is the footer's).
    val addedStats = LakeStats.harvest(dir, added).map { case (f, st) =>
      val bl = addedBlooms.getOrElse(f, Map.empty)
      val sm = addedSums.getOrElse(f, Map.empty)
      val nd = addedNdvs.getOrElse(f, Map.empty)
      val ln = addedLens.getOrElse(f, Map.empty)
      val hs = addedHists.getOrElse(f, Map.empty)
      if (bl.isEmpty && sm.isEmpty && nd.isEmpty && ln.isEmpty &&
          hs.isEmpty) f -> st
      else f -> st.copy(cols = st.cols.map { case (name, cs) =>
        val withBloom = bl.get(name).fold(cs)(b => cs.copy(bloom = Some(b)))
        val withSum = sm.get(name).fold(withBloom) { case (s, a) =>
          withBloom.copy(sum = Some(s), asum = Some(a))
        }
        val withNdv =
          nd.get(name).fold(withSum)(n => withSum.copy(ndv = Some(n)))
        val withLen = ln.get(name).fold(withNdv) { case (t, mx) =>
          withNdv.copy(tlen = Some(t), mlen = Some(mx))
        }
        name -> hs.get(name).fold(withLen)(h =>
          withLen.copy(hsample = Some(h)))
      })
    }
    var attempt = 0
    // The loser of a version race retries against the new head. Under
    // N-way contention a writer can lose N-1 straight races, so the cap
    // must comfortably exceed realistic writer counts, and the jittered
    // backoff de-synchronizes the herd (32 writers all re-reading the
    // head the same instant just race again; measured starving the old
    // flat 20-attempt loop in LakeLogConcurrencySpec).
    val maxAttempts = 200
    while (attempt < maxAttempts) {
      attempt += 1
      if (attempt > 1)
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(math.min(2L << math.min(attempt, 5), 50L) + 1))
      val head = current(dir, branch) match {
        case some @ Some(_) => some
        case None if branch.isDefined =>
          throw new IllegalStateException(
            s"branch '${branch.get}' does not exist in $dir — " +
              "createBranch first")
        case None =>
          // unlogged table with pre-existing files: bootstrap v0 first,
          // so history starts at the observed state
          val raw = rawDataFiles(dir).filterNot(added.contains)
          if (raw.isEmpty) None
          else tryPublish(fs, dir, Snapshot(0L, now(None), "bootstrap",
            raw, raw, Seq.empty, -1L), None) match {
            case Some(s) => Some(s)
            case None    => current(dir) // lost the race; re-read
          }
      }
      // idempotency-tagged commits (multi-table transaction applies):
      // the duplicate check runs AFTER the head read and covers every
      // version up to it, so it is atomic with the publish decision —
      // a racer that published the tag BEFORE our head read is seen
      // here; one that publishes AFTER it takes the version we are
      // about to contend, our tryPublish loses, and the retry rescans.
      // (A check hoisted before the head read has a hole: a late head
      // read targets the NEXT version uncontended and never re-checks —
      // caught live by LakeMultiCommitSpec's 8-way apply race.)
      if (dedupeOnOperation) {
        val existing = versions(dir, branch).reverseIterator
          .map(v => snapshotAt(dir, v, branch))
          .find(_.operation == operation)
        existing.foreach(s => return s)
      }
      val base = head.map(_.files).getOrElse(Seq.empty)
      val missing = removed.filterNot(base.contains)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"replace conflict in $dir: covered files no longer current: " +
            missing.mkString(", "))
      // bootstrap race: writer A's v0 bootstrap lists the directory and
      // can sweep up a file writer B already PUBLISHED but not yet
      // committed — B's own commit then appends the same name, and
      // `base ++ added` would list it twice, silently double-scanning
      // its rows. A name already in base is therefore dropped from this
      // commit's delta (it is current either way), and the complete set
      // is deduped as a belt-and-braces invariant.
      val addedNew = added.filterNot(base.toSet).sorted
      // merge-on-read deletes: a DV against a data file another writer
      // just REWROTE would delete positions of the wrong bytes — same
      // conflict class as a replace against a vanished file
      val dvMissing = dvAdded.keys.filterNot(base.contains)
      if (dvMissing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"merge-on-read conflict in $dir: deletion vectors target " +
            s"files no longer current: ${dvMissing.mkString(", ")}")
      val baseDvs = head.map(_.dvs).getOrElse(Map.empty)
      // write-write ROW conflict: a new DV overlapping an already-
      // committed DV on the same file means two writers scanned the
      // same row live and both removed it — benign for delete-delete,
      // but an update (delete+insert) pair would DUPLICATE the row's
      // new versions. Serializable-by-default: the loser fails loud and
      // retries against the post-commit state (Iceberg's row-level
      // validation). Sequential DML never trips this — a later scan
      // subtracts existing DVs, so its positions are disjoint by
      // construction. Cost: DV reads only for re-touched files.
      val overlap = dvAdded.flatMap { case (f, vs) =>
        val existing = baseDvs.getOrElse(f, Seq.empty)
        if (existing.isEmpty) None
        else {
          val committed = LakeDv.positions(dir, existing).toSet
          val both = LakeDv.positions(dir, vs).filter(committed)
          if (both.isEmpty) None
          else Some(s"$f @ ${both.take(5).mkString(",")}" +
            (if (both.length > 5) ",…" else ""))
        }
      }
      if (overlap.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"merge-on-read conflict in $dir: positions deleted " +
            s"concurrently by another writer: ${overlap.mkString("; ")}")
      // a replaced file takes its DVs with it (the rewrite applied or
      // superseded them); new DVs merge per data file. A rollback
      // instead RESTORES a past snapshot's DV map verbatim — the
      // derived rule cannot reconstruct it (rolling back past a MOR
      // delete must drop its DVs; rolling back across rewrite_deletes
      // must re-attach the old files' DVs, else deleted rows resurrect)
      val nextDvs = dvsOverride.getOrElse {
        val nextDvs0 = baseDvs -- removed
        dvAdded.foldLeft(nextDvs0) { case (acc, (f, vs)) =>
          acc.updated(f, (acc.getOrElse(f, Seq.empty) ++ vs).distinct.sorted)
        }
      }
      // stats follow the file set: replaced files drop theirs, added
      // files bring freshly-harvested ones; files that predate stats
      // simply stay absent (footer-fallback planning). ANALYZE
      // amendments replace entries for files still current.
      val liveAmend = statsAmend.view.filterKeys(f =>
        base.contains(f) && !removed.contains(f)).toMap
      val nextVersion = head.map(_.version + 1).getOrElse(0L)
      // stamp each added file's ADD VERSION — the equality-delete
      // sequencing fact ([[LakeEq]]); stamped inside the loop because
      // a lost version race changes the version this commit lands at
      val nextFileSet =
        (base.filterNot(removed.toSet) ++ addedNew).toSet
      val nextStats = (head.map(_.stats).getOrElse(Map.empty) -- removed) ++
        addedStats.view.filterKeys(addedNew.contains)
          .map { case (f, st) =>
            f -> st.copy(addV = addedSeqs.getOrElse(f, nextVersion))
          } ++ liveAmend ++
        statsRestore.view.filterKeys(nextFileSet)
      // equality deletes: refuse to commit one against a snapshot
      // holding files the delete cannot be SEQUENCED with (unknown add
      // version — legacy vintages, bootstrap sweeps). Checked against
      // the POST-commit current set minus this commit's own files.
      if (eqAdded.nonEmpty)
        LakeEq.requireSequenceable(dir,
          Seq(LakeEq.EqRef("pending", nextVersion, Seq.empty, 0L)),
          base.filterNot(removed.toSet).filterNot(addedNew.contains),
          head.map(_.stats).getOrElse(Map.empty))
      val retireSet = eqsRetire.toSet
      val nextEqs = eqsOverride.getOrElse(
        head.map(_.eqs).getOrElse(Seq.empty)
          .filterNot(r => retireSet.contains(r.name)) ++
          eqAdded.map { case (n, kc, cnt) =>
            LakeEq.EqRef(n, nextVersion, kc, cnt, eqTuples.get(n)) })
      // partition tuples follow the file set exactly like stats
      val nextParts = (head.map(_.parts).getOrElse(Map.empty) -- removed) ++
        addedParts.view.filterKeys(addedNew.contains)
      val next = Snapshot(
        nextVersion,
        now(head.map(_.timestampMs)), operation,
        (base.filterNot(removed.toSet) ++ addedNew).distinct.sorted,
        addedNew, removed.sorted, addedRows, dataChange, nextDvs, dvAdded,
        nextStats, updatePre, updatePost.filter(addedNew.contains),
        nextParts, eqs = nextEqs)
      prePublish()
      tryPublish(fs, dir, next, branch) match {
        case Some(s) => return s
        case None    => () // another writer took this version; retry
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"gave up committing to $dir after $attempt attempts")
  }

  // strictly increasing commit times keep timestamp travel well-defined
  private def now(prev: Option[Long]): Long =
    math.max(System.currentTimeMillis(), prev.map(_ + 1).getOrElse(0L))

  /** Atomically create `dest` from staged `tmp`, failing (false) when
    * `dest` already exists — the single arbitration primitive the whole
    * log rests on. Scheme-dependent, because the Hadoop `rename` API
    * does NOT guarantee no-overwrite everywhere: on the local
    * filesystem it degrades to POSIX rename(2), which silently
    * OVERWRITES an existing destination — two racing writers would both
    * "win" a version and one manifest would vanish (caught live by
    * LakeLogConcurrencySpec under 32-way contention). So:
    *
    *   - `file://`: hard-link (link(2)) — atomic create-if-absent by
    *     POSIX contract;
    *   - everything else (HDFS-class): `rename` without overwrite is
    *     atomic at the namenode and returns false on an existing
    *     destination. (An object store without atomic rename needs a
    *     conditional-PUT flavor of this method — the one primitive a
    *     port must supply.)
    */
  private def atomicCreateFrom(fs: FileSystem, tmp: Path,
                               dest: Path): Boolean =
    if ("file".equalsIgnoreCase(fs.getScheme)) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dest.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else fs.rename(tmp, dest)

  /** Stage + atomic create-if-absent; None when the version was taken. */
  private def tryPublish(fs: FileSystem, dir: String, s: Snapshot,
                         branch: Option[String]): Option[Snapshot] = {
    val d = ld(dir, branch)
    val dest = new Path(d, manifestName(s.version))
    if (fs.exists(dest)) return None
    val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}.json")
    writeManifest(fs, tmp, s)
    val won = atomicCreateFrom(fs, tmp, dest)
    fs.delete(tmp, false)
    if (won) {
      // keep MAIN head resolution O(1): refresh the hint per commit
      if (branch.isEmpty) writeHeadHint(dir, s.version)
      Some(s)
    } else None
  }

  // ----- branches: writable refs (write-audit-publish) -----------------

  /** Fork `name` at the current main head. The branch log starts with a
    * COPY of the head manifest — that version number is the fork point
    * [[fastForward]] later validates against.
    */
  def createBranch(dir: String, name: String): Snapshot = {
    val head = current(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no snapshot log to branch"))
    require(!tags(dir).contains(name),
      s"'$name' is already a tag in $dir")
    val fs = fsFor(dir)
    require(!fs.exists(branchLogDir(dir, name)),
      s"branch '$name' already exists in $dir")
    fs.mkdirs(branchLogDir(dir, name))
    tryPublish(fs, dir, head.copy(operation = s"branch($name)"),
      Some(name)).getOrElse(throw new IllegalStateException(
      s"lost the race creating branch '$name' in $dir"))
  }

  /** Live branches: name → head version. */
  def branches(dir: String): Map[String, Long] = {
    val fs = fsFor(dir)
    val root = new Path(logDir(dir), "branches")
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { s =>
      val name = s.getPath.getName
      versions(dir, Some(name)).lastOption.map(name -> _)
    }.toMap
  }

  def dropBranch(dir: String, name: String): Boolean =
    fsFor(dir).delete(branchLogDir(dir, name), true)

  /** Publish a branch onto main — the write-audit-publish commit. Only
    * valid when main still sits at the branch's fork point (same
    * linear-history rule as a git fast-forward); a main that advanced
    * since the fork CONFLICTS and needs a fresh branch. Every branch
    * commit (fork+1 .. head) lands on main in order via the same
    * rename-without-overwrite, so a racing main writer can't interleave
    * — the first taken version aborts the publish. Returns the number
    * of commits published; the branch is dropped on success.
    */
  def fastForward(dir: String, name: String): Int = {
    val bvs = versions(dir, Some(name))
    require(bvs.nonEmpty, s"no branch '$name' in $dir")
    val fork = bvs.head
    val mainHead = current(dir).getOrElse(throw new IllegalStateException(
      s"$dir lost its log"))
    if (mainHead.version != fork)
      throw new java.util.ConcurrentModificationException(
        s"cannot fast-forward '$name' in $dir: main advanced to " +
          s"v${mainHead.version} past the fork point v$fork — " +
          "re-branch and replay")
    val fs = fsFor(dir)
    // graft marker FIRST (see rollback): branch commits may hold rows
    // written before a constraint was declared+validated on main
    if (bvs.tail.nonEmpty) noteHistoryGraft(dir, bvs.last)
    bvs.tail.foreach { v =>
      val s = snapshotAt(dir, v, Some(name))
      tryPublish(fs, dir, s, None).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"cannot fast-forward '$name' in $dir: a main writer took " +
            s"v$v mid-publish"))
    }
    // a branch writer racing the publish may have landed commits after
    // the listing above — dropping the branch now would silently DELETE
    // them. Leave the branch in place and conflict instead: the
    // published prefix is already on main, nothing is lost, and the
    // racer's work stays auditable (a later fast-forward of the stale
    // branch correctly conflicts at the fork-point check).
    if (versions(dir, Some(name)) != bvs)
      throw new java.util.ConcurrentModificationException(
        s"fast-forward of '$name' in $dir published ${bvs.size - 1} " +
          "commits, but new branch commits landed mid-publish — branch " +
          "kept; re-branch from the new main head and replay them")
    dropBranch(dir, name)
    bvs.size - 1
  }

  // ----- tags: named immutable refs to snapshots ------------------------

  private val TagRe = "^ref-(.+)\\.json$".r
  private def tagPath(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag names are [A-Za-z0-9._-]+, got '$name'")
    // resolve() tries numeric ids BEFORE tag lookup, so an all-digit
    // tag would be unreachable (shadowed by version resolution) —
    // reject it at creation, where the user can still pick another name
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — it would be shadowed by " +
        "numeric snapshot-id resolution in VERSION AS OF")
    new Path(logDir(dir), s"ref-$name.json")
  }

  /** Pin `name` to `version` (Iceberg-style tag: immutable once
    * created — retag requires dropTag first; rename-without-overwrite
    * makes racing creates pick one winner). Tagged snapshots survive
    * [[expire]].
    */
  def tag(dir: String, name: String, version: Long): Unit = {
    snapshotAt(dir, version) // must exist
    require(!branches(dir).contains(name),
      s"'$name' is already a branch in $dir")
    val fs = fsFor(dir)
    val tmp = new Path(logDir(dir),
      s".tmp-ref-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(
      java.util.Map.of("name", name, "version",
        java.lang.Long.valueOf(version))))
    finally out.close()
    val dest = tagPath(dir, name)
    val won = !fs.exists(dest) && atomicCreateFrom(fs, tmp, dest)
    fs.delete(tmp, false)
    if (!won)
      throw new IllegalStateException(
        s"tag '$name' already exists in $dir (tags are immutable — " +
          "dropTag first to move it)")
  }

  def dropTag(dir: String, name: String): Boolean =
    fsFor(dir).delete(tagPath(dir, name), false)

  /** All tags: name → pinned version. */
  def tags(dir: String): Map[String, Long] = {
    val fs = fsFor(dir)
    val ld = logDir(dir)
    if (!fs.exists(ld)) Map.empty
    else fs.listStatus(ld).toSeq.flatMap(s =>
      TagRe.findFirstMatchIn(s.getPath.getName).map { m =>
        val in = fs.open(s.getPath)
        val bytes = try in.readAllBytes() finally in.close()
        val j = mapper.readValue(bytes, classOf[JMap[String, Object]])
        m.group(1) -> j.get("version").asInstanceOf[Number].longValue()
      }).toMap
  }

  /** Resolve a version ref: a numeric snapshot id, or a tag name. */
  def resolve(dir: String, ref: String): Long =
    ref.toLongOption.getOrElse(tags(dir).getOrElse(ref,
      throw new IllegalArgumentException(
        s"'$ref' is neither a numeric snapshot id nor a tag in $dir " +
          s"(tags: ${tags(dir).keys.toSeq.sorted.mkString(", ")})")))

  // ----- streaming-epoch refs: exactly-once bookkeeping ----------------

  /** `stream_epoch(<queryId>:<epochId>)` — the operation string an epoch
    * commit seals into its manifest; the replay check keys on it.
    */
  def epochOp(queryId: String, epochId: Long): String =
    s"stream_epoch($queryId:$epochId)"

  private val EpochOpRe = """^stream_epoch\((.*):(-?\d+)\)$""".r

  private def epochRefPath(dir: String, queryId: String): Path = {
    require(queryId.nonEmpty && queryId.matches("[A-Za-z0-9._-]+"),
      s"stream query ids are [A-Za-z0-9._-]+, got '$queryId'")
    new Path(logDir(dir), s"stream-$queryId.json")
  }

  /** Advance the per-query committed-epoch ref AFTER an epoch's log
    * commit. The ref lives beside the manifests but is NEVER expired,
    * so the exactly-once replay check stays O(1) and correct even when
    * the epoch's marker manifest is vacuumed. Epoch commits of one
    * query are serial (driver-side), so overwrite is single-writer;
    * the write is atomic on `file://` and a torn read elsewhere falls
    * back to the log scan.
    */
  def recordCommittedEpoch(dir: String, queryId: String,
                           epochId: Long): Unit = {
    val fs = fsFor(dir)
    val tmp = new Path(logDir(dir),
      s".tmp-stream-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(java.util.Map.of(
      "queryId", queryId, "epoch", java.lang.Long.valueOf(epochId))))
    finally out.close()
    val dest = epochRefPath(dir, queryId)
    if ("file".equalsIgnoreCase(fs.getScheme))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else { fs.delete(dest, false); fs.rename(tmp, dest) }
  }

  /** Does the query's epoch REF alone already record `epoch` (or later)?
    * Used by [[expire]] to decide whether a marker manifest is still a
    * load-bearing retention promise.
    */
  private def lastEpochRefCovers(dir: String, queryId: String,
                                 epoch: Long): Boolean =
    try {
      val fs = fsFor(dir)
      val p = epochRefPath(dir, queryId)
      fs.exists(p) && {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        mapper.readValue(bytes, classOf[JMap[String, Object]])
          .get("epoch").asInstanceOf[Number].longValue() >= epoch
      }
    } catch { case _: Exception => false } // unreadable ref: keep marker

  /** Newest committed epoch of `queryId`, or None if it never committed.
    * Fast path is the ref file (one tiny read); because the ref can lag
    * exactly one epoch behind (crash between the log commit and the ref
    * update), the log stays authoritative: manifests are scanned
    * NEWEST-FIRST only until this query's most recent marker — O(commits
    * since this query's last epoch), not O(all versions) — and the
    * larger of the two answers wins. [[expire]] retains each query's
    * newest marker manifest, so the scan finds it even after a vacuum.
    */
  def lastCommittedEpoch(dir: String, queryId: String,
                         branch: Option[String] = None): Option[Long] = {
    val fs = fsFor(dir)
    val ref =
      try {
        val p = epochRefPath(dir, queryId)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val bytes = try in.readAllBytes() finally in.close()
          val j = mapper.readValue(bytes, classOf[JMap[String, Object]])
          Some(j.get("epoch").asInstanceOf[Number].longValue())
        }
      } catch { case _: Exception => None } // torn/absent: log decides
    // ops-hint-backed fallback: amortized O(new versions) manifest
    // reads on BOTH main and branch refs (a fresh stream's first
    // epoch on a 10⁶-commit history reads the hint, not the history);
    // the old newest-first manifest walk was O(history) exactly when
    // the query had no prior epoch — every stream's first commit
    val fromLog = operations(dir, branch).reverseIterator.collectFirst {
      case (_, EpochOpRe(q, e)) if q == queryId => e.toLong
    }
    (ref.toSeq ++ fromLog.toSeq).maxOption
  }

  /** Roll the table back to `version`: commits a NEW head whose file set
    * equals the old snapshot's — history is preserved (the rollback is
    * itself a version), so the rolled-past states stay auditable.
    */
  def rollback(dir: String, version: Long): Snapshot = {
    val target = snapshotAt(dir, version)
    val head = current(dir).getOrElse(
      throw new IllegalStateException(s"$dir has no log to roll back"))
    require(version <= head.version,
      s"cannot roll forward to v$version from v${head.version}")
    // The new head must equal the TARGET STATE, not just its file set:
    // its DV map verbatim (commit's derived dvs rule would keep rows
    // deleted when rolling back past a MOR delete, and resurrect
    // deleted rows when rolling back across rewrite_deletes/compact by
    // re-adding old files stripped of their DVs), and the target's
    // partition tuples for the re-added files (else pruning/SPJ lose
    // the restored files' layout).
    // graft marker FIRST: the restored state may predate guarantees
    // validated later (CHECK pruning) — a crash after the marker but
    // before the commit only over-disarms
    noteHistoryGraft(dir, head.version + 1)
    commit(dir, s"rollback(v$version)",
      added = target.files.filterNot(head.files.contains),
      removed = head.files.filterNot(target.files.contains),
      addedRows = -1L,
      addedParts = target.parts,
      dvsOverride = Some(target.dvs),
      // equality deletes restore VERBATIM like DVs, and the restored
      // files keep the target's per-file stats — including addV, the
      // sequencing fact the restored eq list applies through
      eqsOverride = Some(target.eqs),
      statsRestore = target.stats)
  }

  /** Expire history: keep the newest `keepLast` snapshots PLUS any
    * tagged snapshot, delete the other manifests, then delete data
    * files no retained snapshot references. The vacuum that trades time
    * travel for space — referenced files are never touched; a tag is a
    * retention promise, so `VERSION AS OF '<tag>'` keeps working after
    * any expire (drop the tag to release it). Returns (expired manifest
    * count, deleted file count). Single-writer maintenance operation
    * (like every lakehouse vacuum).
    */
  /** Grace window for orphan deletion: a file published within the last
    * `graceMs` may belong to a writer BETWEEN its publish renames and
    * its log commit — deleting it would let that commit succeed with a
    * manifest pointing at a vanished file. 10 min (the Delta/Iceberg
    * vacuum-retention idea at small scale); the `graceMs` overload
    * overrides it per call, and fixtures pass 0 to observe deletions
    * synchronously.
    */
  val defaultExpireGraceMs: Long = 10L * 60 * 1000

  def expire(dir: String, keepLast: Int): (Int, Int) =
    expire(dir, keepLast, defaultExpireGraceMs)

  def expire(dir: String, keepLast: Int, graceMs: Long): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val fs = fsFor(dir)
    val vs = versions(dir)
    if (vs.isEmpty) return (0, 0)
    val tagged = tags(dir).values.toSet
    val (dropCand, keepTail) = vs.splitAt(math.max(0, vs.size - keepLast))
    // each stream query's NEWEST epoch-marker manifest is a retention
    // promise like a tag: vacuuming it would let a crash-replayed epoch
    // whose ref update also died re-commit (double write). A marker
    // already covered by the query's epoch ref (the normal case — the
    // ref is written right after each commit) is redundant and expires
    // normally, so dead queries don't pin history; only the
    // crash-window marker survives, until the query's next epoch.
    // amortized O(new versions) manifest reads via the ops hint
    val newestMarker: Set[Long] = operations(dir).flatMap {
      case (v, op) => op match {
        case EpochOpRe(q, e) => Some((q, e.toLong, v))
        case _               => None
      }
    }.groupMapReduce(_._1)(t => (t._2, t._3))((a, b) =>
      if (a._1 >= b._1) a else b)
      .collect { case (q, (epoch, v))
        if !lastEpochRefCovers(dir, q, epoch) => v }.toSet
    val retained = tagged ++ newestMarker
    val drop = dropCand.filterNot(retained)
    val keep = keepTail ++ dropCand.filter(retained)
    // a live branch references its own commits' files (staged work that
    // hasn't fast-forwarded yet) — the vacuum must not eat a branch
    val branchSnaps = branches(dir).keySet.toSeq.flatMap(b =>
      versions(dir, Some(b)).map(v => snapshotAt(dir, v, Some(b))))
    val branchFiles = branchSnaps.flatMap(_.files).toSet
    // retained snapshots reference their data files AND their deletion
    // vectors — a vacuumed DV would resurrect deleted rows
    val keptSnaps = keep.map(snapshotAt(dir, _))
    // a DECIDED-but-unapplied multi-table transaction (marker written,
    // apply crashed, recover not yet run) references staged files that
    // are in NO manifest yet — the marker is the commit point, so they
    // are committed data, not orphans. Protected regardless of age:
    // the grace window covers publish→commit races, not crash windows
    // of unbounded duration.
    val txPending = LakeTx.pendingFor(dir).flatMap(_.added).toSet
    // equality-delete sidecars of retained snapshots (and branches) are
    // live delete state — vacuuming one resurrects its deleted rows
    val branchEqs = branchSnaps.flatMap(_.eqs.map(_.name)).toSet
    val referenced = keptSnaps.flatMap(s =>
      s.files ++ s.dvs.values.flatten ++ s.eqs.map(_.name)).toSet ++
      branchFiles ++ branchEqs ++ txPending
    val horizon = System.currentTimeMillis() - graceMs
    def aged(f: String): Boolean =
      try fs.getFileStatus(new Path(dir, f)).getModificationTime < horizon
      catch { case _: java.io.IOException => false } // vanished: skip
    val orphans = (rawDataFiles(dir) ++ rawDvFiles(dir) ++ rawEqFiles(dir))
      .filterNot(referenced).filter(aged)
    drop.foreach(v =>
      fs.delete(new Path(logDir(dir), manifestName(v)), false))
    orphans.foreach(f => fs.delete(new Path(dir, f), false))
    // a crashed multi-table stage ([[LakeTx.stageAppend]]) can leave a
    // scratch subdir under _staging — unreachable by any reader, pure
    // disk leak; reclaim aged ones under the same grace window that
    // protects in-flight writers
    val staging = new Path(dir, "_staging")
    if (fs.exists(staging))
      fs.listStatus(staging).toSeq
        .filter(s => s.isDirectory && s.getModificationTime < horizon)
        .foreach(s => fs.delete(s.getPath, true))
    (drop.size, orphans.size)
  }

  /** Deletion-vector sidecars on disk (log-oblivious listing — the
    * vacuum's orphan-candidate source; DVs never participate in
    * bootstrap).
    */
  def rawDvFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && (s.getPath.getName.endsWith(".dv.json") ||
        s.getPath.getName.endsWith(".dv.bin")))
      .map(_.getPath.getName)
      .sorted
  }

  /** Equality-delete sidecars on disk (the vacuum's orphan-candidate
    * source, like [[rawDvFiles]]; never part of bootstrap).
    */
  def rawEqFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("eq-") &&
        s.getPath.getName.endsWith(".json"))
      .map(_.getPath.getName)
      .sorted
  }
}
