package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** CDC THROUGH EQUALITY DELETES (r15): the upsert sink's own table is
  * CDC-able onward — the one gap that made lake-to-lake pipelines
  * dead-end at the flagship feature. An upsert epoch's events are
  * reconstructed from commit metadata alone: the ref's key set is the
  * DELETE side (pre-images read from prior files, scoped by the
  * sequencing rule + key statistics), the epoch's own post-images the
  * INSERT side (their addV postdates every ref) — collapsed
  * insert/delete typing, an update being its delete+insert pair.
  * Soundness pins: earlier-ref subtraction (a row another epoch
  * already killed is nobody's pre-image), restart-no-replay for the
  * streaming feed, opening snapshots under carried refs, and the
  * append-only stream's loud/skip contract.
  */
class LakeUpsertCdcSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-ucdc").toString
    n += 1
    val cat = s"ucdc$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def freshDir(name: String): String =
    Files.createTempDirectory(s"graft-ucdc-$name").toString

  private def exists(e: Throwable, s: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12)
      .exists(t => Option(t.getMessage).exists(_.contains(s)))

  private def runUpsert(cat: String, src: String, dst: String,
                        ckpt: String): Unit = {
    val q = spark.readStream.option("maxCommitsPerBatch", 1)
      .table(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .option("upsert.keys", "k")
      .option("upsert.order", "seq")
      .option("upsert.tombstone", "op = 'delete'")
      .trigger(Trigger.AvailableNow())
      .toTable(dst)
    q.awaitTermination()
  }

  test("batch changes of an upserted table: three epochs (insert, " +
       "update, delete+reinsert) produce the exact per-key event " +
       "history — EARLIER-ref subtraction keeps a twice-updated key's " +
       "second update from re-deleting the already-dead first version") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      // epoch 1: keys 1..4
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1), " +
        "(3, 'c1', 'insert', 1), (4, 'd1', 'insert', 1)")
      // epoch 2: update 1 and 2
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2), (2, 'b2', 'update', 2)")
      // epoch 3: update 1 AGAIN (the earlier-ref pin), delete 3,
      // and insert a new key 5
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a3', 'update', 3), (3, null, 'delete', 3), " +
        "(5, 'e3', 'insert', 3)")
      spark.sql(s"CREATE TABLE $cat.db.dst " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dst", freshDir("c1"))
      val events = spark.sql(s"SELECT k, v, _change_type, " +
        s"_commit_version FROM $cat.db.dst.changes").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val inserts = events.filter(_._3 == "insert").map(e => e._1 -> e._2)
      val deletes = events.filter(_._3 == "delete").map(e => e._1 -> e._2)
      assert(inserts.sorted.toSeq == Seq(1L -> "a1", 1L -> "a2",
        1L -> "a3", 2L -> "b1", 2L -> "b2", 3L -> "c1", 4L -> "d1",
        5L -> "e3"), s"inserts: ${inserts.toSeq}")
      // epoch 2 deletes a1/b1; epoch 3 deletes a2 (NOT a1 again — the
      // earlier ref already killed it) and c1. Key 5 has no pre-image
      // — its ref entry produces no delete event.
      assert(deletes.sorted.toSeq == Seq(1L -> "a1", 1L -> "a2",
        2L -> "b1", 3L -> "c1"), s"deletes: ${deletes.toSeq}")
      // the feed replays onward: folding ITS events per key
      // reproduces the table (the lake-to-lake contract)
      val got = spark.table(s"$cat.db.dst")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a3", 2L -> "b2", 4L -> "d1", 5L -> "e3"))

      // a longer history: 6 append commits, then 12 epochs each
      // updating two keys — the events still fold to the table state,
      // and the replay reads each version's manifest a small constant
      // number of times: the full per-file stats a ref-adding version's
      // delete side needs are in that version's own manifest
      spark.sql(s"CREATE TABLE $cat.db.src12 " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      (0 until 12).foreach(i => spark.sql(
        s"INSERT INTO $cat.db.src12 VALUES " +
          s"(${i % 8}, 'u$i', 'update', ${i + 2}), " +
          s"(${(i + 3) % 8}, 'w$i', 'update', ${i + 2})"))
      spark.sql(s"CREATE TABLE $cat.db.big " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      (0 until 6).foreach(i => spark.sql(
        s"INSERT INTO $cat.db.big " +
          s"SELECT id % 8 AS k, concat('b', id) AS v, 'insert' " +
          s"AS op, CAST(1 AS BIGINT) AS seq " +
          s"FROM range(${i * 16}, ${(i + 1) * 16}, 1, 4)"))
      runUpsert(cat, s"$cat.db.src12", s"$cat.db.big", freshDir("c7"))
      val bigDir = s"$root/db/big"
      val bigHead = LakeLog.current(bigDir).get
      assert(bigHead.eqs.size == 12, s"12 epochs' refs: ${bigHead.eqs.size}")
      val m0 = LakeLog.manifestReads.get()
      val bigEvents = spark.sql(s"SELECT k, v, _change_type " +
        s"FROM $cat.db.big.changes").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val reads = LakeLog.manifestReads.get() - m0
      val nVersions = LakeLog.versions(bigDir).size
      assert(reads <= 2L * nVersions + 4,
        s"replay of $nVersions versions read $reads manifests")
      // per key: inserts minus deletes = live versions
      val foldedLive = bigEvents.groupBy(_._1).map { case (k, es) =>
        val ins = es.filter(_._3 == "insert").map(_._2)
        val del = es.filter(_._3 == "delete").map(_._2)
        k -> ins.diff(del).sorted.toSeq
      }.filter(_._2.nonEmpty)
      val state = spark.table(s"$cat.db.big")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(foldedLive == state,
        s"fold/state divergence: $foldedLive vs $state")
    }
  }

  test("streaming CDC of an upserted table: restart-no-replay — a " +
       "second AvailableNow run from the same checkpoint appends only " +
       "the NEW epoch's events, no replays, no gaps") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.dst " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      val upsCkpt = freshDir("ups")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dst", upsCkpt)
      // stream the change feed into a parquet sink
      val out = freshDir("cdcsink")
      val cdcCkpt = freshDir("cdcckpt")
      def drain(): Unit = {
        val q = spark.readStream.option("maxCommitsPerBatch", 1)
          .table(s"$cat.db.dst.changes")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", cdcCkpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      val first = spark.read.parquet(s"$out/data")
        .selectExpr("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(first.sorted.toSeq == Seq((1L, "a1", "delete"),
        (1L, "a1", "insert"), (1L, "a2", "insert"),
        (2L, "b1", "insert")), s"first drain: ${first.toSeq}")
      // one more epoch lands, the consumer restarts from its checkpoint
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(2, null, 'delete', 3)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dst", upsCkpt)
      drain()
      val second = spark.read.parquet(s"$out/data")
        .selectExpr("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(second.sorted.toSeq == Seq((1L, "a1", "delete"),
        (1L, "a1", "insert"), (1L, "a2", "insert"),
        (2L, "b1", "delete"), (2L, "b1", "insert")),
        s"after restart: ${second.toSeq}")
    }
  }

  test("opening snapshot under carried refs: after history expiry the " +
       "feed (and a fresh append stream) opens with the snapshot's " +
       "LIVE rows — tombstoned keys subtracted, sequenceability loud") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1), " +
        "(3, 'c1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(2, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.dst " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dst", freshDir("c3"))
      val dir = s"$root/db/dst"
      assert(LakeLog.current(dir).get.eqs.nonEmpty)
      // trim history to the head only: the feed must open with the
      // snapshot, whose complete-state events need eq subtraction
      graft.operators.LakeSnapshots.expire(dir, 1, 0L)
      val events = spark.sql(s"SELECT k, v, _change_type " +
        s"FROM $cat.db.dst.changes").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(events.sorted.toSeq == Seq((1L, "a1", "insert"),
        (3L, "c1", "insert")), s"snapshot events: ${events.toSeq}")
      // the append-only stream opens the same way
      val out = freshDir("appsink")
      val q = spark.readStream.table(s"$cat.db.dst")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val streamed = spark.read.parquet(s"$out/data")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(streamed == Set(1L -> "a1", 3L -> "c1"), s"$streamed")
    }
  }

  test("append-only stream vs eq commits: loud by default at the " +
       "ref-adding version (with all three remedies named); under " +
       "skipChangeCommits the post-images flow and deletes are " +
       "skipped — the merge-on-read treatment") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.dst " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dst", freshDir("c4"))
      val e = intercept[Exception] {
        val out = freshDir("loudsink")
        val q = spark.readStream.table(s"$cat.db.dst")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      assert(exists(e, "committed equality deletes") &&
        exists(e, "skipChangeCommits") && exists(e, "db.t.changes") &&
        exists(e, "rewrite_deletes"), s"$e")
      val out = freshDir("skipsink")
      val q = spark.readStream.option("skipChangeCommits", "true")
        .table(s"$cat.db.dst")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.read.parquet(s"$out/data")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      // every post-image flows (a1 AND its superseding a2 — the
      // append-only view keeps inserts, never retracts)
      assert(got.sorted.toSeq == Seq(1L -> "a1", 1L -> "a2",
        2L -> "b1"), s"${got.toSeq}")
    }
  }

  test("columnar routing (r16): an eq-attached split IS columnar-" +
       "eligible (the columnar reader subtracts matched rows itself, " +
       "so eligibility stays uniform across a scan whose scoping " +
       "attaches refs to only some files); whole-file CDC events are " +
       "columnar too, while POSITIONAL CDC splits and the per-split " +
       "forceRow kill-switch route to the row path") {
    import graft.sources.dsv2.{LakeColumnarReader, LakeColumnRef, LakeInputPartition}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val proj = StructType(Seq(StructField("k", LongType)))
    val cols = Array(LakeColumnRef("k", 1, Array("k")))
    val bare = LakeInputPartition("/tmp/x.parquet", 0, cols)
    assert(LakeColumnarReader.eligible(bare, proj))
    assert(LakeColumnarReader.eligible(
      bare.copy(eqFiles = Seq("eq-x.json"),
        eqCols = Array(LakeColumnRef("k", 1, Array("k")))), proj))
    // whole-file CDC event splits are columnar since late r16
    // (constant _change_type/_commit_version vectors); POSITIONAL
    // splits — delete positions or eq-emit — still need the row
    // reader, as does the per-split forceRow kill-switch the replay
    // planners use to keep a mixed batch uniform
    assert(LakeColumnarReader.eligible(
      bare.copy(cdc = Some(graft.sources.dsv2.LakeCdcInfo(
        "insert", 1L))), proj))
    assert(!LakeColumnarReader.eligible(
      bare.copy(cdc = Some(graft.sources.dsv2.LakeCdcInfo(
        "delete", 1L, onlyPositions = Some(Array(0L))))), proj))
    assert(!LakeColumnarReader.eligible(
      bare.copy(cdc = Some(graft.sources.dsv2.LakeCdcInfo(
        "delete", 1L, onlyEqFiles = Seq("eq-x.json")))), proj))
    assert(!LakeColumnarReader.eligible(
      bare.copy(forceRow = true), proj))
  }

  test("columnar eq subtraction plan pin (r16): a batch read of the " +
       "upsert sink's own table — live refs attached — reports " +
       "COLUMNAR (ColumnarToRow in the plan) and still folds to the " +
       "exact upserted state; the row path (columnar kill-switch) " +
       "agrees row-for-row") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
        "CAST(1 AS BIGINT) AS seq FROM range(1, 21)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(3, 'u3', 'update', 2), (7, 'u7', 'update', 2), " +
        "(11, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.ceq " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.ceq", freshDir("ceq"))
      val dir = s"$root/db/ceq"
      assert(LakeLog.current(dir).get.eqs.nonEmpty, "refs must be live")
      val df = spark.table(s"$cat.db.ceq").selectExpr("k", "v")
      assert(df.queryExecution.executedPlan.toString
        .contains("ColumnarToRow"),
        s"eq-attached scan must stay columnar:\n" +
          df.queryExecution.executedPlan)
      val columnar = df.collect()
        .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
      // exact fold: updates replace, the delete tombstones, inserts stay
      val expect = (1L to 20L).filterNot(_ == 11L).map {
        case 3L => 3L -> "u3"
        case 7L => 7L -> "u7"
        case k  => k -> s"v$k"
      }
      assert(columnar == expect, s"$columnar")
      val prev = System.getProperty("graft.lake.reader.columnar")
      System.setProperty("graft.lake.reader.columnar", "false")
      try {
        val row = spark.table(s"$cat.db.ceq").selectExpr("k", "v")
          .collect().map(r => r.getLong(0) -> r.getString(1))
          .sorted.toSeq
        assert(row == columnar, "row/columnar divergence")
      } finally {
        if (prev == null)
          System.clearProperty("graft.lake.reader.columnar")
        else System.setProperty("graft.lake.reader.columnar", prev)
      }
    }
  }

  test("CDC of a PARTITION-SCOPED upsert (bucket(2,k), keys determine " +
       "the partition): per-partition tuple'd refs produce the exact " +
       "event history; and a feed read ACROSS inline retirement " +
       "(upsert.retire.maxRefs) sees the epochs' events unchanged — " +
       "retirement is dataChange=false, invisible to the feed") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
        "CAST(1 AS BIGINT) AS seq FROM range(1, 9)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(3, 'u3', 'update', 2), (7, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.pc " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT) " +
        "PARTITIONED BY (bucket(2, k))")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.pc", freshDir("c5"))
      val head = LakeLog.current(s"$root/db/pc").get
      assert(head.eqs.nonEmpty && head.eqs.forall(_.tuple.isDefined),
        s"partition-scoped refs expected: ${head.eqs}")
      val events = spark.sql(s"SELECT k, v, _change_type " +
        s"FROM $cat.db.pc.changes").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val expectInserts = (1L to 8L).map(i => (i, s"v$i", "insert")) :+
        ((3L, "u3", "insert"))
      val expectDeletes = Seq((3L, "v3", "delete"), (7L, "v7", "delete"))
      assert(events.sorted.toSeq ==
        (expectInserts ++ expectDeletes).sorted, s"${events.toSeq}")
      // the folded state agrees
      val got = spark.table(s"$cat.db.pc").count()
      assert(got == 7L, s"$got")

      // --- feed across inline retirement ---
      spark.sql(s"CREATE TABLE $cat.db.rc " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      val out = freshDir("c6")
      val q = spark.readStream.option("maxCommitsPerBatch", 1)
        .table(s"$cat.db.src")
        .writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .option("upsert.keys", "k")
        .option("upsert.order", "seq")
        .option("upsert.tombstone", "op = 'delete'")
        .option("upsert.retire.maxRefs", "1")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.rc")
      q.awaitTermination()
      assert(LakeLog.current(s"$root/db/rc").get.eqs.isEmpty,
        "auto-retired")
      val events2 = spark.sql(s"SELECT k, v, _change_type " +
        s"FROM $cat.db.rc.changes").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(events2.sorted.toSeq ==
        (expectInserts ++ expectDeletes).sorted, s"${events2.toSeq}")
    }
  }
}
