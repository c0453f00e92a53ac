package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.operators.LakeSnapshots
import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** The versioned-lake surface over [[graft.sources.dsv2.LakeTable]]:
  * snapshot log commits, time travel (SQL `VERSION AS OF` /
  * `TIMESTAMP AS OF`), version-diff CDC, rollback, history expiry, and
  * the commit-replaying streaming source — the lakehouse contracts
  * (Delta/Iceberg-class) built on two filesystem primitives (immutable
  * manifests + rename-without-overwrite).
  */
class LakeSnapshotSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-snap").toString
    n += 1
    val cat = s"snapcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  test("every write commits a manifest; history renders the audit trail") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.h (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.h SELECT id, concat('a', id) FROM range(10)")
      spark.sql(s"INSERT INTO $cat.db.h SELECT id, concat('b', id) FROM range(10, 30)")
      spark.sql(s"DELETE FROM $cat.db.h WHERE k < 5")
      val hist = LakeSnapshots.history(spark, s"$root/db/h")
        .orderBy("version").collect()
      assert(hist.map(_.getString(1)).toSeq ==
        Seq("create", "append", "append", "delete"))
      assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
      // appends carry exact row counts; create is empty
      assert(hist(0).getInt(2) == 0 && hist(0).getLong(5) == 0L)
      assert(hist(1).getLong(5) == 10L && hist(2).getLong(5) == 20L)
      // the delete REWROTE groups: removed something, net rows now 25
      assert(hist(3).getInt(4) > 0, "delete commit records removed files")
      assert(spark.table(s"$cat.db.h").count() == 25)
    }
  }

  test("VERSION AS OF reads the pinned snapshot; TIMESTAMP AS OF resolves " +
       "by commit time; writes to a time-travel read fail") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, 'one' FROM range(100)")
      spark.sql(s"UPDATE $cat.db.t SET v = 'two' WHERE k >= 50")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k < 10")

      assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 0").count() == 0)
      val v1 = spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 1")
      assert(v1.count() == 100 &&
        v1.where(col("v") === "one").count() == 100)
      val v2 = spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 2")
      assert(v2.where(col("v") === "two").count() == 50)
      assert(spark.table(s"$cat.db.t").count() == 90, "head unaffected")

      // timestamp travel: any instant at/after v1's commit but before
      // v2's resolves to v1 (manifest timestamps strictly increase)
      val ts1 = LakeLog.snapshotAt(s"$root/db/t", 1L).timestampMs
      val byTime = spark.sql(
        s"""SELECT * FROM $cat.db.t TIMESTAMP AS OF
           |  timestamp_millis(${ts1})""".stripMargin)
      assert(byTime.count() == 100)

      val err = intercept[Exception] {
        spark.sql(s"INSERT INTO ($cat.db.t VERSION AS OF 1) VALUES (1, 'x')")
      }
      // either the parser or the connector rejects it — both acceptable;
      // what must not happen is a silent write
      assert(spark.table(s"$cat.db.t").count() == 90)
      // expired/never-committed version fails loud
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 99").collect()
      }
    }
  }

  test("changes() yields row-level CDC between versions: carry-over rows " +
       "cancel, updates surface as delete+insert pairs") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.c SELECT id, concat('v', id) FROM range(1000)")
      // touch 10 keys out of 1000 — carry-over dominates the rewrite
      spark.range(10).selectExpr("id * 100 AS k", "'upd' AS v")
        .createOrReplaceTempView("snap_touch")
      spark.sql(
        s"""MERGE INTO $cat.db.c t USING snap_touch s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      val cdc = LakeSnapshots.changes(spark, s"$root/db/c", 1L, 2L)
      val byType = cdc.groupBy("change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("insert" -> 10L, "delete" -> 10L),
        s"carry-over must cancel: $byType")
      val inserted = cdc.where(col("change_type") === "insert")
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(inserted == (0 until 10).map(_ * 100L))
      assert(cdc.where(col("change_type") === "delete")
        .collect().forall(_.getString(1).startsWith("v")))
      // full-range CDC (0 -> head) reproduces the head state as inserts
      val full = LakeSnapshots.changes(spark, s"$root/db/c", 0L, 2L)
      assert(full.where(col("change_type") === "delete").count() == 0)
      assert(full.count() == 1000)
    }
  }

  test("rollback restores an old snapshot as a new commit; expire trades " +
       "history for space but never touches referenced files") {
    withCatalog { (cat, root) =>
      val dir = s"$root/db/r"
      spark.sql(s"CREATE TABLE $cat.db.r (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.r SELECT id FROM range(50)")
      // partial within the covered groups, so the rewrite WRITES
      // survivor files (an all-matching delete would only drop files)
      spark.sql(s"DELETE FROM $cat.db.r WHERE k >= 25 AND k < 40")
      assert(spark.table(s"$cat.db.r").count() == 35)

      val v = LakeSnapshots.rollback(dir, 1L)
      assert(v == 3L, "rollback is itself a commit")
      assert(spark.table(s"$cat.db.r").count() == 50, "v1 state restored")
      assert(LakeLog.snapshotAt(dir, 2L).added.nonEmpty,
        "fixture must exercise a rewrite that wrote survivor files")
      // the rolled-past delete remains auditable
      assert(LakeSnapshots.history(spark, dir).count() == 4)

      // expire everything but the head: time travel dies, head survives
      val (droppedManifests, deletedFiles) = LakeSnapshots.expire(dir, 1, graceMs = 0L)
      assert(droppedManifests == 3)
      assert(deletedFiles > 0, "the delete-rewrite orphan must be vacuumed")
      assert(spark.table(s"$cat.db.r").count() == 50, "head intact")
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.db.r VERSION AS OF 1").collect()
      }
    }
  }

  test("streaming read replays commits through the checkpoint: resume " +
       "picks up only new commits; replace commits fail loud unless " +
       "skipChangeCommits") {
    withCatalog { (cat, root) =>
      val out = Files.createTempDirectory("graft-snap-out").toString
      spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.s SELECT id, 'w1' FROM range(100)")

      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.db.s")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()
      assert(spark.read.parquet(s"$out/data").count() == 100)

      spark.sql(s"INSERT INTO $cat.db.s SELECT id, 'w2' FROM range(100, 130)")
      drain()
      val after = spark.read.parquet(s"$out/data")
      assert(after.count() == 130, "resume must add only the new commit")
      assert(after.select("k").distinct().count() == 130, "no replays")

      // a copy-on-write rewrite breaks the append contract → loud error
      spark.sql(s"UPDATE $cat.db.s SET v = 'upd' WHERE k < 5")
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drain()
      }
      assert(err.getMessage.contains("skipChangeCommits") ||
        Option(err.getCause).exists(_.getMessage.contains("skipChangeCommits")),
        s"wrong failure: ${err.getMessage}")

      // with the option, the change commit is skipped wholesale and a
      // later append still flows
      spark.sql(s"INSERT INTO $cat.db.s SELECT id, 'w3' FROM range(130, 140)")
      val q2 = spark.readStream.option("skipChangeCommits", "true")
        .table(s"$cat.db.s")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      assert(spark.read.parquet(s"$out/data").count() == 140)
    }
  }

  test("a fresh stream on an expiry-trimmed log starts from the earliest " +
       "retained snapshot's COMPLETE state, then increments — no crash " +
       "on the vacuumed prefix, no double-emission on later batches") {
    withCatalog { (cat, root) =>
      val out = Files.createTempDirectory("graft-snap-exp").toString
      spark.sql(s"CREATE TABLE $cat.db.x (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.x SELECT id FROM range(100)")
      spark.sql(s"INSERT INTO $cat.db.x SELECT id FROM range(100, 130)")
      // vacuum the front: v0/v1 manifests gone, v2 is all that remains
      LakeSnapshots.expire(s"$root/db/x", keepLast = 1, graceMs = 0L)
      assert(LakeLog.versions(s"$root/db/x") == Seq(2L))

      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.db.x")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain() // initial snapshot: v2's complete file set
      assert(spark.read.parquet(s"$out/data").count() == 130)
      spark.sql(s"INSERT INTO $cat.db.x SELECT id FROM range(130, 140)")
      drain() // ordinary increment afterwards — the flag must not stick
      val rows = spark.read.parquet(s"$out/data")
      assert(rows.count() == 140, "exactly one snapshot + one delta")
      assert(rows.select("k").distinct().count() == 140, "no replays")
    }
  }

  test("a checkpoint ahead of the table head (drop/recreate under it) " +
       "fails loud instead of silently skipping the new contents; an " +
       "unlogged directory cannot be streamed at all") {
    withCatalog { (cat, root) =>
      val out = Files.createTempDirectory("graft-snap-rec").toString
      spark.sql(s"CREATE TABLE $cat.db.r (k BIGINT)")
      (0 until 3).foreach(i => spark.sql(
        s"INSERT INTO $cat.db.r SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.db.r")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain() // checkpoint now at v3
      spark.sql(s"DROP TABLE $cat.db.r")
      spark.sql(s"CREATE TABLE $cat.db.r (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.r SELECT id FROM range(5)") // head v1
      val e = intercept[Exception] { drain() }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("ahead of the table head")),
        s"wrong failure: ${e.getMessage}")

      // unlogged dir: batch reads list raw files, but a stream has no
      // commits to replay — fail loud, not an empty stream
      val raw = s"$root/db/rawonly"
      spark.range(10).selectExpr("id AS k").write.parquet(raw)
      assert(spark.table(s"$cat.db.rawonly").count() == 10)
      val e2 = intercept[Exception] {
        val q = spark.readStream.table(s"$cat.db.rawonly")
          .writeStream.format("noop")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      assert(msgs(e2).exists(_.contains("unlogged")),
        s"wrong failure: ${e2.getMessage}")
    }
  }

  test("unlogged directories interop: reads fall back to listing, the " +
       "first write bootstraps v0 from the observed files") {
    withCatalog { (cat, root) =>
      // simulate a legacy / externally-populated table dir
      val dir = s"$root/db/legacy"
      spark.range(20).selectExpr("id AS k").coalesce(1)
        .write.parquet(dir)
      // stray non-data artifacts a raw writer leaves behind
      assert(spark.table(s"$cat.db.legacy").count() == 20)
      assert(LakeLog.versions(dir).isEmpty, "reads must not create a log")

      spark.sql(s"INSERT INTO $cat.db.legacy SELECT id FROM range(20, 25)")
      val hist = LakeSnapshots.history(spark, dir).orderBy("version")
        .collect()
      assert(hist.map(_.getString(1)).toSeq == Seq("bootstrap", "append"))
      assert(spark.table(s"$cat.db.legacy").count() == 25)
      // v0 = the pre-log state
      assert(spark.sql(s"SELECT * FROM $cat.db.legacy VERSION AS OF 0")
        .count() == 20)
    }
  }

  test("concurrent commits: racing appends both land (retry), a replace " +
       "whose covered files were rewritten under it conflicts loudly") {
    withCatalog { (_, root) =>
      val dir = s"$root/db/race"
      new java.io.File(dir).mkdirs()
      LakeLog.commit(dir, "append", Seq("a.parquet"), Seq.empty, 1L)
      // two writers race from the same observed head: simulate by
      // committing between observe and publish — the log's retry loop
      // re-reads the head, so both deltas land
      LakeLog.commit(dir, "append", Seq("b.parquet"), Seq.empty, 1L)
      LakeLog.commit(dir, "append", Seq("c.parquet"), Seq.empty, 1L)
      assert(LakeLog.current(dir).get.files ==
        Seq("a.parquet", "b.parquet", "c.parquet"))
      // replace of a file no longer current → conflict, not resurrection
      LakeLog.commit(dir, "replace", Seq("d.parquet"), Seq("b.parquet"), 1L)
      intercept[java.util.ConcurrentModificationException] {
        LakeLog.commit(dir, "replace", Seq("e.parquet"), Seq("b.parquet"), 1L)
      }
    }
  }

  test("a manifest in the retired tree encoding (a segment list, no " +
       "file list) fails loud, naming the manifest, instead of reading " +
       "as an empty table") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.old (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.old SELECT id FROM range(10)")
      val dir = s"$root/db/old"
      val v = LakeLog.current(dir).get.version + 1
      // the shape the tree writer published past its file threshold
      val manifest = new java.io.File(s"$dir/_log", f"v$v%020d.json")
      Files.writeString(manifest.toPath,
        s"""{"version":$v,"timestampMs":${System.currentTimeMillis()},""" +
          """"operation":"append","added":[],"removed":[],"addedRows":0,""" +
          """"dataChange":true,"segments":[{"name":"seg-0.json","n":1,""" +
          """"lo":"a.parquet","hi":"a.parquet"}]}""")
      def names(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
          Option(t.getMessage).exists(m =>
            m.contains(manifest.getName) &&
              m.contains("manifest-tree encoding") &&
              m.contains("no longer read")))
      val direct = intercept[IllegalStateException](LakeLog.snapshotAt(dir, v))
      assert(names(direct), direct.getMessage)
      val viaSql = intercept[Exception](
        spark.sql(s"SELECT * FROM $cat.db.old").collect())
      assert(names(viaSql), viaSql.toString)
    }
  }
}
