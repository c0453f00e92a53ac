package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.LakeSnapshots
import graft.sources.dsv2.{GraftCatalog, LakeLog, LakeMicroBatchStream, LakeVersionOffset, LakeWrite}

/** Reliability edges of the lake layer, each pinned by a regression
  * found in review: the bootstrap race that could double-list a file in
  * the manifest, a fresh stream seeded at a tagged history island,
  * admission-control `ReadLimit` honoring, and the exactly-once epoch
  * bookkeeping that must survive both a crash between commit and ref
  * update and a history expiry.
  */
class LakeReliabilitySpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-rel").toString
    n += 1
    val cat = s"relcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft-rel-log").toString

  private def touch(dir: String, name: String): Unit =
    Files.write(java.nio.file.Paths.get(dir, name), Array[Byte](1))

  // ----- bootstrap race: manifest must never double-list a file --------

  test("bootstrap race: a file swept into v0 by another writer's " +
       "bootstrap is NOT listed twice when its own commit lands — the " +
       "complete set dedupes and the late commit's delta drops it") {
    val dir = freshDir()
    // writer B publishes its data file but has not committed yet
    touch(dir, "b.parquet")
    // writer A commits first on the unlogged dir: bootstrap v0 sweeps
    // up B's published file as pre-existing state
    LakeLog.commit(dir, "append", Seq("a.parquet"), Seq.empty, 1L)
    assert(LakeLog.snapshotAt(dir, 0L).files == Seq("b.parquet"),
      "bootstrap v0 = the observed pre-existing state")
    // B's own commit now appends the same name
    val s = LakeLog.commit(dir, "append", Seq("b.parquet"), Seq.empty, 1L)
    assert(s.files.sorted == s.files.distinct.sorted,
      s"manifest double-lists a file: ${s.files}")
    assert(s.files.count(_ == "b.parquet") == 1,
      s"b.parquet scanned twice: ${s.files}")
    assert(!s.added.contains("b.parquet"),
      "a file already current is not this commit's delta (the stream " +
        s"would emit it twice): added=${s.added}")
  }

  test("bootstrap race under real contention: N writers publish-then-" +
       "commit against an unlogged dir; the final manifest lists every " +
       "file exactly once") {
    val dir = freshDir()
    val n = 16
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = (0 until n).map { i =>
      pool.submit[Try[Unit]](() => {
        start.await()
        Try {
          val f = f"w$i%03d.parquet"
          touch(dir, f) // publish first (the sink's stage-then-publish)
          LakeLog.commit(dir, "append", Seq(f), Seq.empty, 1L); ()
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    results.foreach(_.get().get)
    val head = LakeLog.current(dir).get
    assert(head.files.size == head.files.distinct.size,
      s"duplicated files in final manifest: ${head.files}")
    assert(head.files.toSet == (0 until n).map(i => f"w$i%03d.parquet").toSet)
    // across all versions, no file appears in two commits' added sets
    val added = LakeLog.versions(dir)
      .flatMap(v => LakeLog.snapshotAt(dir, v).added)
    assert(added.size == added.distinct.size,
      s"a file appears in two commits' deltas: $added")
  }

  // ----- tagged island vs fresh stream ---------------------------------

  test("contiguousStart skips a tagged island left by expire; a fresh " +
       "stream seeds there instead of crashing on the vacuumed middle") {
    withCatalog { (cat, root) =>
      val out = Files.createTempDirectory("graft-rel-tag").toString
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT)")
      val dir = s"$root/db/t"
      (0 until 5).foreach(i => spark.sql(
        s"INSERT INTO $cat.db.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
      // tag v1, then retain only the last two versions: {1, 4, 5}
      LakeLog.tag(dir, "old", 1L)
      LakeSnapshots.expire(dir, keepLast = 2, graceMs = 0L)
      assert(LakeLog.versions(dir) == Seq(1L, 4L, 5L),
        s"fixture: tagged island + contiguous tail, got ${LakeLog.versions(dir)}")
      assert(LakeLog.contiguousStart(dir).contains(4L),
        "the earliest USABLE version is the start of the contiguous " +
          "suffix, not the tagged island")
      // fresh stream: v4 complete state (40 rows) + v5 delta (10 rows)
      val q = spark.readStream.table(s"$cat.db.t")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.read.parquet(s"$out/data")
      assert(rows.count() == 50, "v4's complete set + v5's delta")
      assert(rows.distinct().count() == 50, "no double emission")
      // the tagged island still serves pinned reads (v1 = first append)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 'old'")
        .collect().head.getLong(0) == 10)
      // but cannot seed a backfill cursor — the versions after it are gone
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q2 = spark.readStream.option("startingVersion", "1")
          .table(s"$cat.db.t")
          .writeStream.format("parquet")
          .option("path", s"$out/data2")
          .option("checkpointLocation", s"$out/ckpt2")
          .trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(msgs.contains("gap"),
        s"stranded backfill cursor must fail loud, got: $msgs")
    }
  }

  // ----- ReadLimit honoring -------------------------------------------

  test("latestOffset honors Spark's ReadLimit: maxRows and maxFiles " +
       "bound the commit walk (always admitting at least one commit), " +
       "composite takes the tightest, allAvailable paces by the " +
       "maxCommitsPerBatch option") {
    val dir = freshDir()
    // 12 commits: commit i adds 1 file of 10 rows
    (0 until 12).foreach { i =>
      touch(dir, f"f$i%02d.parquet")
      LakeLog.commit(dir, "append", Seq(f"f$i%02d.parquet"), Seq.empty, 10L)
    }
    val schema = StructType(Seq(StructField("k", LongType)))
    val stream = new LakeMicroBatchStream(dir, schema, Array.empty,
      maxCommitsPerBatch = 3L)
    def end(from: Long, limit: ReadLimit): Long =
      stream.latestOffset(LakeVersionOffset(from), limit)
        .asInstanceOf[LakeVersionOffset].v
    // default pacing: 3 commits per batch (the option)
    assert(end(-1L, ReadLimit.allAvailable()) == 2L)
    // maxRows 35: commits of 10 rows each -> 3 commits fit
    assert(end(-1L, ReadLimit.maxRows(35L)) == 2L)
    // maxRows smaller than one commit still admits one (no stall)
    assert(end(-1L, ReadLimit.maxRows(1L)) == 0L)
    // maxFiles 5: five 1-file commits
    assert(end(-1L, ReadLimit.maxFiles(5)) == 4L)
    // composite: min(maxRows 35 -> v2, maxFiles 5 -> v4) = v2
    assert(end(-1L, ReadLimit.compositeLimit(
      Array(ReadLimit.maxRows(35L), ReadLimit.maxFiles(5)))) == 2L)
    // a mid-log start walks from there
    assert(end(5L, ReadLimit.maxRows(20L)) == 7L)
    // nothing new: offset stays put
    assert(end(11L, ReadLimit.maxRows(20L)) == 11L)
  }

  test("maxRowsPerTrigger / maxFilesPerTrigger options surface through " +
       "getDefaultReadLimit") {
    val dir = freshDir()
    touch(dir, "f.parquet")
    LakeLog.commit(dir, "append", Seq("f.parquet"), Seq.empty, 1L)
    val schema = StructType(Seq(StructField("k", LongType)))
    import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadMaxRows}
    val none = new LakeMicroBatchStream(dir, schema, Array.empty)
    assert(none.getDefaultReadLimit.isInstanceOf[ReadAllAvailable])
    val rows = new LakeMicroBatchStream(dir, schema, Array.empty,
      maxRowsPerTrigger = Some(100L))
    rows.getDefaultReadLimit match {
      case r: ReadMaxRows => assert(r.maxRows() == 100L)
      case other          => fail(s"expected ReadMaxRows, got $other")
    }
    val both = new LakeMicroBatchStream(dir, schema, Array.empty,
      maxRowsPerTrigger = Some(100L), maxFilesPerTrigger = Some(2))
    assert(both.getDefaultReadLimit.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.CompositeReadLimit])
  }

  // ----- O(1) head resolution ------------------------------------------

  test("head resolution on a 100-commit table is O(1): the per-commit " +
       "head hint makes current() one manifest read and zero _log " +
       "listings; a deleted hint falls back to the listing unharmed") {
    val dir = freshDir()
    (0 until 100).foreach { i =>
      touch(dir, f"h$i%03d.parquet")
      LakeLog.commit(dir, "append", Seq(f"h$i%03d.parquet"), Seq.empty, 1L)
    }
    val r0 = LakeLog.manifestReads.get()
    val l0 = LakeLog.logListings.get()
    val head = LakeLog.current(dir).get
    assert(head.version == 99L && head.files.size == 100)
    assert(LakeLog.manifestReads.get() - r0 == 1,
      s"expected 1 manifest read, got ${LakeLog.manifestReads.get() - r0}")
    assert(LakeLog.logListings.get() - l0 == 0,
      s"expected 0 log listings, got ${LakeLog.logListings.get() - l0}")
    // hint is best-effort: delete it, resolution falls back to listing
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "_log", "_head.json"))
    assert(LakeLog.current(dir).get.version == 99L)
    // a STALE hint (simulated: rewind to v50) still resolves the true
    // head by probing forward
    LakeLog.commit(dir, "append", Seq.empty, Seq.empty, 0L) // rewrites hint
    val hintPath = java.nio.file.Paths.get(dir, "_log", "_head.json")
    java.nio.file.Files.write(hintPath,
      """{"version":50}""".getBytes("UTF-8"))
    assert(LakeLog.current(dir).get.version == 100L,
      "stale hint must probe forward to the true head")
  }

  // ----- exactly-once epoch bookkeeping --------------------------------

  test("epoch replay check is O(1) via the per-query ref, survives a " +
       "crash between commit and ref update, and survives expire " +
       "(the newest uncovered marker manifest is retained)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.e (k BIGINT)")
      val dir = s"$root/db/e"
      val schema = StructType(Seq(StructField("k", LongType)))
      val write = new LakeWrite(dir, schema, replaceFiles = null,
        "append", queryId = "q-rel")
      val sw = write.toStreaming
      def stageEpoch(): Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
        val factory = sw.createStreamingWriterFactory(null)
        val w = factory.createWriter(0, 0L, 0L)
        (0 until 10).foreach(i => w.write(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](i.toLong))))
        Array(w.commit())
      }
      sw.commit(0L, stageEpoch())
      assert(LakeLog.lastCommittedEpoch(dir, "q-rel").contains(0L))
      sw.commit(1L, stageEpoch())
      assert(spark.table(s"$cat.db.e").count() == 20)

      // crash window: epoch 2's manifest lands but the ref update dies —
      // simulate by committing the marker through the log directly
      touch(s"$dir", "crash.parquet")
      LakeLog.commit(dir, LakeLog.epochOp("q-rel", 2L),
        Seq("crash.parquet"), Seq.empty, 0L)
      // the ref still says 1, but the log is authoritative
      assert(LakeLog.lastCommittedEpoch(dir, "q-rel").contains(2L),
        "marker scan must cover the ref-lag window")

      // expire aggressively: append more so the marker falls off the tail
      spark.sql(s"INSERT INTO $cat.db.e SELECT id FROM range(5)")
      spark.sql(s"INSERT INTO $cat.db.e SELECT id FROM range(5)")
      LakeSnapshots.expire(dir, keepLast = 1, graceMs = 0L)
      // the epoch-2 marker is NOT covered by the ref (ref=1) -> retained
      assert(LakeLog.lastCommittedEpoch(dir, "q-rel").contains(2L),
        "expire must not vacuum the newest uncovered marker")
      // a replay of epoch 2 after crash+expire is still a no-op
      val before = LakeLog.versions(dir)
      sw.commit(2L, stageEpoch())
      assert(LakeLog.versions(dir) == before,
        "replayed epoch 2 must not re-commit")

      // epoch 3 commits normally -> ref advances to 3, covering the
      // old marker; the next expire may drop it
      sw.commit(3L, stageEpoch())
      assert(LakeLog.lastCommittedEpoch(dir, "q-rel").contains(3L))
      LakeSnapshots.expire(dir, keepLast = 1, graceMs = 0L)
      val vs = LakeLog.versions(dir)
      assert(vs.size == 1,
        s"covered markers must expire normally, got versions $vs")
      // and the replay check STILL works purely off the ref
      sw.commit(3L, stageEpoch())
      assert(LakeLog.versions(dir) == vs, "post-expire replay must no-op")
    }
  }

  // ----- ops hint: cut planning without touching every manifest --------

  test("consistentView / expire plan cuts through the ops hint: after " +
       "one warming pass, a new call reads only the NEW manifests " +
       "(counterized) and ZERO segments — long tree histories never " +
       "rescan") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.h (g BIGINT, k BIGINT) " +
        "PARTITIONED BY (g)")
      val dir = s"$root/db/h"
      // 20 commits of 4 files each
      (0 until 20).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.h SELECT id % 4, id " +
          s"FROM range(${i * 40}, ${(i + 1) * 40}, 1, 4)"))
      // warming pass builds the hint over all 21 versions
      graft.sources.dsv2.LakeTx.consistentView(root, Seq(dir))
      // ONE new commit, then the next cut plan must read only the
      // new manifest(s) — never the 21 old ones
      spark.sql(s"INSERT INTO $cat.db.h SELECT id % 4, id " +
        "FROM range(800, 840, 1, 4)")
      val head = LakeLog.current(dir).get.version
      val m0 = LakeLog.manifestReads.get()
      val view = graft.sources.dsv2.LakeTx.consistentView(root, Seq(dir))
      val mRead = LakeLog.manifestReads.get() - m0
      assert(view(dir).contains(head))
      assert(mRead <= 4,
        s"cut planning after one commit read $mRead manifests " +
          "(hint must bound it to the new versions + head probes)")
      // expire's marker scan rides the same hint: bounded reads
      val m1 = LakeLog.manifestReads.get()
      graft.operators.LakeSnapshots.expire(dir, keepLast = 50,
        graceMs = Long.MaxValue)
      // keepLast=50 retains everything: the scan is hint-served; the
      // retained-snapshot reference walk reads each retained manifest
      // once — O(retained)
      assert(LakeLog.manifestReads.get() - m1 <= 30)
    }
  }

  test("ops hint covers BRANCH refs: on a 20-commit branch the " +
       "version→operation index answers from the hint — amortized " +
       "manifest reads per call are O(new versions), not O(history)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.b20 (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.b20 VALUES (0)")
      val dir = s"$root/db/b20"
      spark.sql(s"CALL $cat.system.branch('db.b20', 'wap')")
      (1 to 20).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.b20.branch_wap VALUES ($i)"))
      // first call builds the branch hint (pays the history once)
      val ops1 = LakeLog.operations(dir, Some("wap"))
      assert(ops1.size == 21, s"${ops1.size}") // fork marker + 20
      // a hint-covered re-read: ZERO manifest reads
      val before = LakeLog.manifestReads.get()
      val ops2 = LakeLog.operations(dir, Some("wap"))
      assert(ops2 == ops1)
      val covered = LakeLog.manifestReads.get() - before
      assert(covered == 0,
        s"a hint-covered call must read no manifests, read $covered")
      // one more branch commit: amortized O(new) — a small constant,
      // never the 22-manifest history
      spark.sql(s"INSERT INTO $cat.db.b20.branch_wap VALUES (99)")
      val before2 = LakeLog.manifestReads.get()
      val ops3 = LakeLog.operations(dir, Some("wap"))
      assert(ops3.size == 22)
      val delta = LakeLog.manifestReads.get() - before2
      assert(delta <= 3,
        s"amortized O(new versions): expected <= 3 manifest reads " +
          s"for one new commit, read $delta")
      // the hint lives in the BRANCH's own log dir and retires with it
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        new org.apache.hadoop.conf.Configuration())
      spark.sql(s"CALL $cat.system.fast_forward('db.b20', 'wap')")
      assert(spark.table(s"$cat.db.b20").count() == 22L)
    }
  }
}
