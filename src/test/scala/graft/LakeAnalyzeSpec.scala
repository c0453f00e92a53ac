package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog, LakeStats}

/** `CALL system.analyze` ([[graft.sources.dsv2.LakeAnalyze]]): one
  * distributed scan backfills the write-time facts — exact sums, KMV
  * sketches, blooms, and plain footer stats — for files that lack
  * them (compaction rewrites, external bootstrap vintages), restoring
  * the metadata fast paths the strict all-files answerability rules
  * had conservatively declined. Soundness pins: DV'd files are
  * skipped (live rows ≠ physical facts) and amendments are idempotent.
  */
class LakeAnalyzeSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-analyze").toString
    n += 1
    val cat = s"anacat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def pushed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("PushedAggregates")

  test("compaction loses the write-time facts; analyze restores " +
       "metadata SUM/AVG and the NDV report, exactly and idempotently") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, d DECIMAL(12,2)) " +
        "TBLPROPERTIES ('stats.ndv.columns'='k')")
      Seq(0, 1000).foreach { lo =>
        spark.range(lo, lo + 1000).selectExpr("id % 700 AS k",
          "CAST(id AS DECIMAL(12,2)) / 4 AS d")
          .coalesce(1).createOrReplaceTempView(s"c_src$lo")
        spark.sql(s"INSERT INTO $cat.db.c SELECT * FROM c_src$lo")
      }
      spark.sql(s"CALL $cat.system.compact('db.c', 134217728)")
      assert(!pushed(spark.sql(s"SELECT sum(k) FROM $cat.db.c")),
        "compacted files lost their sums")
      val r = spark.sql(s"CALL $cat.system.analyze('db.c')").collect().head
      assert(r.getInt(0) >= 1 && r.getInt(1) >= 2,
        s"amended=${r.getInt(0)} facts=${r.getInt(1)}")
      val q = spark.sql(s"SELECT sum(k), avg(k), sum(d) FROM $cat.db.c")
      assert(pushed(q), q.queryExecution.executedPlan)
      val before = LakeStats.footerOpens.get()
      val row = q.collect().head
      assert(LakeStats.footerOpens.get() - before == 0)
      val ks = (0L until 2000L).map(_ % 700L)
      assert(row.getLong(0) == ks.sum)
      assert(row.getDouble(1) == ks.sum.toDouble / 2000.0)
      val dsum = (0L until 2000L).map(id => java.math.BigDecimal
        .valueOf(id).divide(java.math.BigDecimal.valueOf(4))
        .setScale(2)).reduce(_.add(_))
      assert(row.getDecimal(2).compareTo(dsum) == 0)
      // NDV sketch restored on the compacted file → the CBO report
      // covers the whole (now single-file) table again
      val head = LakeLog.current(s"$root/db/c").get
      assert(head.files.forall(f =>
        head.stats(f).cols("k").ndv.isDefined))
      val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        val stats = spark.table(s"$cat.db.c")
          .queryExecution.optimizedPlan.stats
        val kndv = stats.attributeStats.collectFirst {
          case (a, cs) if a.name == "k" => cs.distinctCount.get.toLong
        }.getOrElse(fail(s"no k NDV: ${stats.attributeStats}"))
        assert(math.abs(kndv - 700.0) / 700.0 < 0.15, s"ndv=$kndv")
      } finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      // idempotent: nothing left to amend
      val r2 = spark.sql(s"CALL $cat.system.analyze('db.c')").collect().head
      assert(r2.getInt(0) == 0 && r2.getInt(1) == 0, r2.toString)
    }
  }

  test("external bootstrap vintage: analyze harvests footer stats and " +
       "facts, unlocking metadata MIN/MAX/COUNT(col)/SUM with zero " +
       "footer opens at query time") {
    withCatalog { (cat, root) =>
      val dir = s"$root/db/ext"
      spark.range(0, 500).selectExpr("id AS k",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('v', id) END AS v")
        .coalesce(2).write.parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
      LakeLog.commit(dir, "noop", Seq.empty, Seq.empty, 0L)
      assert(!pushed(spark.sql(s"SELECT min(k) FROM $cat.db.ext")),
        "stats-less bootstrap declines column metadata")
      val r = spark.sql(s"CALL $cat.system.analyze('db.ext')")
        .collect().head
      assert(r.getInt(0) == 2, s"both bootstrap files amended: $r")
      val q = spark.sql(s"SELECT min(k), max(k), count(v), sum(k) " +
        s"FROM $cat.db.ext")
      assert(pushed(q), q.queryExecution.executedPlan)
      val before = LakeStats.footerOpens.get()
      val row = q.collect().head
      assert(LakeStats.footerOpens.get() - before == 0)
      assert(row.getLong(0) == 0 && row.getLong(1) == 499)
      assert(row.getLong(2) == 400) // 100 nulls
      assert(row.getLong(3) == (0L until 500L).sum)
    }
  }

  test("DV'd files are skipped (live rows are not physical facts): sum " +
       "stays declined until rewrite_deletes + analyze") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.dv (k BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.dv SELECT id FROM range(100)")
      spark.sql(s"DELETE FROM $cat.db.dv WHERE k >= 90")
      // compact ignores DV'd files too — analyze must not fake facts
      spark.sql(s"CALL $cat.system.analyze('db.dv')")
      assert(!pushed(spark.sql(s"SELECT sum(k) FROM $cat.db.dv")),
        "a DV'd snapshot must stay declined after analyze")
      spark.sql(s"CALL $cat.system.rewrite_deletes('db.dv')")
      // the rewrite emitted sum-less files; analyze restores them
      spark.sql(s"CALL $cat.system.analyze('db.dv')")
      val q = spark.sql(s"SELECT sum(k) FROM $cat.db.dv")
      assert(pushed(q), q.queryExecution.executedPlan)
      assert(q.collect().head.getLong(0) == (0L until 90L).sum)
    }
  }

  test("bloom backfill: a compacted bloom.columns table prunes point " +
       "lookups again after analyze, with no false negatives") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('bloom.columns'='v')")
      Seq(0, 1000).foreach { lo =>
        spark.range(lo, lo + 1000).selectExpr("id AS k",
          "concat('u', pmod(hash(id), 100000)) AS v")
          .coalesce(1).createOrReplaceTempView(s"b_src$lo")
        spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM b_src$lo")
      }
      spark.sql(s"CALL $cat.system.compact('db.b', 134217728)")
      val dir = s"$root/db/b"
      assert(LakeLog.current(dir).get.stats.values
        .forall(_.cols("v").bloom.isEmpty), "compaction lost the blooms")
      spark.sql(s"CALL $cat.system.analyze('db.b')")
      val head = LakeLog.current(dir).get
      assert(head.stats.values.forall(_.cols("v").bloom.isDefined))
      // absent key: the (single compacted) file prunes with no footer
      val before = LakeStats.footerOpens.get()
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.b WHERE v = 'nope-xyz'")
        .collect().head.getLong(0) == 0)
      assert(LakeStats.footerOpens.get() - before == 0,
        "bloom-excluded file must not open its footer")
      // no false negatives: every present key still found
      val present = spark.sql(s"SELECT v FROM $cat.db.b WHERE k = 1234")
        .collect().head.getString(0)
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.b WHERE v = '$present'")
        .collect().head.getLong(0) >= 1)
    }
  }

  test("overflow and null disambiguation: an all-null column backfills " +
       "the exact zero fact, while a decimal-38 overflow (null sum " +
       "with rows present) is skipped, never recorded as 0") {
    withCatalog { (cat, root) =>
      val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
      try {
        // legacy mode so the overflow yields NULL (ANSI would abort
        // the analyze loud — also correct, but not this pin)
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.sql(s"CREATE TABLE $cat.db.ov " +
          "(big DECIMAL(38,0), nul BIGINT)")
        spark.sql(s"INSERT INTO $cat.db.ov VALUES " +
          "(90000000000000000000000000000000000000, NULL), " +
          "(90000000000000000000000000000000000000, NULL)")
        spark.sql(s"CALL $cat.system.compact('db.ov', 134217728)")
        spark.sql(s"CALL $cat.system.analyze('db.ov')")
        val head = LakeLog.current(s"$root/db/ov").get
        val cols = head.stats(head.files.head).cols
        assert(cols("big").sum.isEmpty,
          s"overflowed sum must NOT be recorded: ${cols("big")}")
        assert(cols("nul").sum.contains("0") &&
          cols("nul").asum.contains("0"),
          s"all-null column's exact fact is zero: ${cols("nul")}")
      } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    }
  }

  test("TIMESTAMP_NTZ sketches backfill (admits and analyze agree on " +
       "the type surface)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.ntz (k BIGINT, t TIMESTAMP_NTZ) " +
        "TBLPROPERTIES ('stats.ndv.columns'='t')")
      spark.sql(s"INSERT INTO $cat.db.ntz SELECT id, " +
        "timestampadd(SECOND, CAST(id % 200 AS INT), " +
        "TIMESTAMP_NTZ '2024-01-01 00:00:00') FROM range(1000)")
      spark.sql(s"CALL $cat.system.compact('db.ntz', 134217728)")
      spark.sql(s"CALL $cat.system.analyze('db.ntz')")
      val head = LakeLog.current(s"$root/db/ntz").get
      assert(head.files.forall(f =>
        head.stats(f).cols("t").ndv.isDefined),
        "NTZ sketch backfilled")
      // estimate tracks the true 200 distinct values — and because the
      // backfill hashes the same canonical micros as the writer, the
      // union with writer-built sketches stays coherent
      val est = graft.sources.dsv2.LakeNdv.estimate(head.files.toSeq.map(
        f => graft.sources.dsv2.LakeNdv.decode(
          head.stats(f).cols("t").ndv.get))).get
      assert(est == 200L, s"below-K exact: $est")
    }
  }

  test("a ZERO-ROW file gets its zero facts synthesized (it yields no " +
       "groupBy row — it provably contributed no rows): metadata SUM " +
       "answers over it, the sketch reports NDV 0, and a second " +
       "analyze is a no-op instead of rescanning it forever") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.z (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('stats.ndv.columns'='k', 'bloom.columns'='k')")
      spark.sql(s"INSERT INTO $cat.db.z VALUES (1, 'a'), (2, 'bb')")
      val dir = s"$root/db/z"
      // inject an EXTERNAL zero-row file (a compaction of an emptied
      // partition, a foreign writer's empty output): footer stats
      // harvest fine (0 rows, no bounds) but every fact is missing
      val tmp = Files.createTempDirectory("zero-src").toString
      spark.table(s"$cat.db.z").limit(0).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        new org.apache.hadoop.conf.Configuration())
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val zname = "part-zero-row.parquet"
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, zname))
      LakeLog.commit(dir, "sneak-zero", Seq(zname), Seq.empty, 0L)
      assert(!pushed(spark.sql(s"SELECT sum(k) FROM $cat.db.z")),
        "the fact-less zero-row file must decline metadata SUM")
      val r1 = spark.sql(s"CALL $cat.system.analyze('db.z')")
        .collect().head
      assert(r1.getInt(0) >= 1 && r1.getInt(1) >= 1,
        s"the zero-row file must be amended: $r1")
      // zero facts landed: sum rides metadata and is exact
      val q = spark.sql(s"SELECT sum(k), count(k) FROM $cat.db.z")
      assert(pushed(q), q.queryExecution.executedPlan)
      val row = q.collect().head
      assert(row.getLong(0) == 3L && row.getLong(1) == 2L)
      // the synthesized facts are the exact zeros
      val head = LakeLog.current(dir).get
      val zc = head.stats(zname).cols
      assert(zc("k").sum.contains("0") && zc("k").asum.contains("0"))
      assert(zc("k").ndv.contains(""), "empty KMV sketch = exact NDV 0")
      assert(zc("k").bloom.exists(b => graft.sources.dsv2.LakeBloom
        .decode(b).forall(_ == 0L)), "all-zero bloom matches nothing")
      assert(zc("v").tlen.contains("0") && zc("v").mlen.contains("0"))
      // THE pin: no perpetual rescan — the second run finds nothing
      val r2 = spark.sql(s"CALL $cat.system.analyze('db.z')")
        .collect().head
      assert(r2.getInt(0) == 0 && r2.getInt(1) == 0,
        s"zero-row files must not be rescanned forever: $r2")
    }
  }

  test("chunked amend: analyze with chunkFiles=1 commits per chunk, " +
       "lands the SAME end state as one-shot, and is idempotent — the " +
       "driver collect is bounded by the chunk, not the backlog") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.ch (k BIGINT) " +
        "TBLPROPERTIES ('stats.ndv.columns'='k')")
      val dir = s"$root/db/ch"
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        new org.apache.hadoop.conf.Configuration())
      // a 3-file fact-less backlog: external commits carry footer
      // stats (harvested at commit) but none of the write-time facts
      (0 until 3).foreach { i =>
        val tmp = Files.createTempDirectory(s"ch-src$i").toString
        spark.range(i * 100, (i + 1) * 100).selectExpr("id AS k")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        val name = s"part-ext-$i.parquet"
        fs.rename(part, new org.apache.hadoop.fs.Path(dir, name))
        LakeLog.commit(dir, s"sneak-$i", Seq(name), Seq.empty, 100L)
      }
      assert(!pushed(spark.sql(s"SELECT sum(k) FROM $cat.db.ch")))
      val stale = LakeLog.current(dir).get.files.count(f =>
        LakeLog.current(dir).get.stats(f).cols("k").sum.isEmpty)
      assert(stale == 3, s"need a 3-file fact backlog, got $stale")
      val vBefore = LakeLog.current(dir).get.version
      spark.conf.set("spark.graft.analyze.chunkFiles", "1")
      try {
        val r = spark.sql(s"CALL $cat.system.analyze('db.ch')")
          .collect().head
        assert(r.getInt(0) == stale, r.toString)
        // one amendment commit PER CHUNK (bounded driver memory)
        val commits = LakeLog.current(dir).get.version - vBefore
        assert(commits == stale,
          s"expected $stale chunked commits, saw $commits")
        val q = spark.sql(s"SELECT sum(k), avg(k) FROM $cat.db.ch")
        assert(pushed(q), q.queryExecution.executedPlan)
        assert(q.collect().head.getLong(0) == (0L until 300L).sum)
        // idempotent: everything amended, nothing left
        val r2 = spark.sql(s"CALL $cat.system.analyze('db.ch')")
          .collect().head
        assert(r2.getInt(0) == 0 && r2.getInt(1) == 0, r2.toString)
      } finally spark.conf.unset("spark.graft.analyze.chunkFiles")
    }
  }
}
