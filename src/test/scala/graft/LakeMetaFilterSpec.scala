package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog, LakeStats}

/** Partition-filter CONSUMPTION + filtered metadata aggregates (the
  * r12 verdict's rung 1 / task 4):
  *
  *   - a filter decided exactly by every file's identity-partition
  *     tuple is CONSUMED by the scan (Spark drops its Filter node),
  *     which is what lets Spark offer the aggregate pushdown at all;
  *   - a partition-filtered COUNT/MIN/MAX — global or grouped — then
  *     answers from manifest metadata alone (zero footer opens);
  *   - consumption is sound: plain filtered row scans stay exact, and
  *     every non-consumable shape (non-identity column, tuple-less
  *     files, CDC scans) declines back to the residual-filter path.
  */
class LakeMetaFilterSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-mfilter").toString
    n += 1
    val cat = s"mfiltercat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  test("partition-filtered grouped COUNT on a 16-segment tree table " +
       "answers from metadata reading ONLY the matching segments " +
       "(counterized), zero footer opens; results exact incl. DVs") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (g STRING, k BIGINT) " +
        "PARTITIONED BY (g) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      // 4 commits × 4 partitions -> 16 single-partition files
      (0 until 4).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.t SELECT concat('p', id % 4), " +
          s"id FROM range(${i * 400}, ${(i + 1) * 400}, 1, 4)"))
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 5 = 2") // MOR DVs
      val foot0 = LakeStats.footerOpens.get()
      val df = spark.sql(s"SELECT g, count(*) AS n FROM $cat.db.t " +
        "WHERE g = 'p1' GROUP BY g")
      val rows = df.collect()
      assert(LakeStats.footerOpens.get() == foot0,
        "filtered metadata aggregate opened footers")
      assert(df.queryExecution.executedPlan.toString
          .contains("metadata-grouped per-partition, partition-filtered"),
        df.queryExecution.executedPlan.toString.take(400))
      assert(rows.length == 1 && rows(0).getString(0) == "p1")
      assert(rows(0).getLong(1) ==
        (0L until 1600L).count(id => id % 4 == 1 && id % 5 != 2))

      // filtered GLOBAL aggregates answer from metadata too (DVs
      // restricted to the matching files cannot block COUNT(*))
      val g = spark.sql(
        s"SELECT count(*) AS n FROM $cat.db.t WHERE g = 'p3'")
      assert(g.queryExecution.executedPlan.toString
        .contains("metadata-only global, partition-filtered"))
      assert(g.head().getLong(0) ==
        (0L until 1600L).count(id => id % 4 == 3 && id % 5 != 2))
    }
  }

  test("filtered metadata MIN/MAX: DV-free partitions answer exactly " +
       "from per-file bounds of only the matching files — a DV on an " +
       "EXCLUDED partition no longer blocks the fast path") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.m (g STRING, k BIGINT) " +
        "PARTITIONED BY (g) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.m SELECT concat('p', id % 4), id " +
        "FROM range(0, 1000, 1, 4)")
      // DVs land ONLY in partition p0 (k % 4 = 0 rows)
      spark.sql(s"DELETE FROM $cat.db.m WHERE g = 'p0' AND k % 3 = 0")
      val foot0 = LakeStats.footerOpens.get()
      val df = spark.sql(s"SELECT min(k) AS lo, max(k) AS hi " +
        s"FROM $cat.db.m WHERE g = 'p2'")
      val r = df.head()
      assert(df.queryExecution.executedPlan.toString
          .contains("metadata-only global, partition-filtered"),
        "p2 is DV-free: MIN/MAX must answer from metadata")
      assert(LakeStats.footerOpens.get() == foot0)
      assert(r.getLong(0) == 2 && r.getLong(1) == 998)
      // the DV'd partition itself declines MIN/MAX (a DV'd row could
      // be the extremum) and falls back to an exact row scan
      val d = spark.sql(s"SELECT min(k) AS lo FROM $cat.db.m " +
        "WHERE g = 'p0'")
      assert(!d.queryExecution.executedPlan.toString
        .contains("metadata-only"))
      assert(d.head().getLong(0) ==
        (0L until 1000L).filter(id => id % 4 == 0 && id % 3 != 0).min)
    }
  }

  test("consumption soundness: plain filtered row scans are exact for " +
       "every consumed shape (=, IN, range, IS NULL), and " +
       "non-consumable cases keep the residual Filter node and stay " +
       "correct") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.s (g STRING, k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (g)")
      spark.sql(s"INSERT INTO $cat.db.s SELECT " +
        "CASE WHEN id % 5 = 4 THEN NULL ELSE concat('p', id % 5) END, " +
        "id, id * 0.5 FROM range(0, 1000, 1, 4)")
      def want(p: Long => Boolean): Set[Long] =
        (0L until 1000L).filter(p).toSet
      def got(pred: String): Set[Long] =
        spark.sql(s"SELECT k FROM $cat.db.s WHERE $pred")
          .collect().map(_.getLong(0)).toSet
      assert(got("g = 'p1'") == want(_ % 5 == 1))
      assert(got("g IN ('p0', 'p3')") ==
        want(id => id % 5 == 0 || id % 5 == 3))
      assert(got("g > 'p1'") == want(id => id % 5 == 2 || id % 5 == 3))
      assert(got("g IS NULL") == want(_ % 5 == 4))
      assert(got("g IS NOT NULL") == want(_ % 5 != 4))
      // composite with a residual filter: consumed g + residual k
      assert(got("g = 'p2' AND k > 500") ==
        want(id => id % 5 == 2 && id > 500))
      // a filter on a NON-partition column is never consumed: the
      // Filter node survives and results stay exact
      val np = spark.sql(s"SELECT k FROM $cat.db.s WHERE k = 77")
      assert(np.queryExecution.executedPlan.toString.contains("Filter"))
      assert(np.collect().map(_.getLong(0)).toSeq == Seq(77L))
      // an aggregate under a non-partition filter cannot answer from
      // metadata (Spark never offers it past a residual Filter)
      val ag = spark.sql(
        s"SELECT count(*) FROM $cat.db.s WHERE k < 100")
      assert(!ag.queryExecution.executedPlan.toString
        .contains("metadata-only"))
      assert(ag.head().getLong(0) == 100)
    }
  }

  test("an UNDECODABLE tuple slot fails a consumed scan LOUD, never " +
       "wrong: a resolvable-layout tuple whose slot body cannot parse " +
       "is undecided — the plan must refuse, not leak the file's rows " +
       "past the dropped Filter node") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.g (k BIGINT, v STRING) " +
        "PARTITIONED BY (k)")
      spark.sql(s"INSERT INTO $cat.db.g SELECT id % 4, concat('v', id) " +
        "FROM range(0, 100, 1, 2)")
      val dir = s"$root/db/g"
      // external commit: right arity (spec 0, one slot) but a slot
      // body that cannot decode as the LongType transform output
      LakeLog.commit(dir, "external", Seq("garbage-slot.parquet"),
        Seq.empty, 1L,
        addedParts = Map("garbage-slot.parquet" -> Seq("vGARBAGE")))
      val e = intercept[Exception] {
        spark.sql(s"SELECT v FROM $cat.db.g WHERE k = 2").collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("cannot be enforced")),
        s"expected the loud consumed-filter guard, got: ${messages(e)}")
    }
  }

  test("null-safe equality: `<=> NULL` is consumed (names exactly the " +
       "null partition), `<=> v` consumes as the equality it is — " +
       "both exact") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.ns (g STRING, k BIGINT) " +
        "PARTITIONED BY (g)")
      spark.sql(s"INSERT INTO $cat.db.ns SELECT " +
        "CASE WHEN id % 5 = 4 THEN NULL ELSE concat('p', id % 5) END, " +
        "id FROM range(0, 500, 1, 4)")
      def run(pred: String): (Set[Long], String) = {
        val df = spark.sql(s"SELECT k FROM $cat.db.ns WHERE $pred")
        (df.collect().map(_.getLong(0)).toSet,
          df.queryExecution.executedPlan.toString)
      }
      val (a, pa) = run("g <=> NULL")
      assert(!pa.contains("Filter ("),
        s"<=> NULL must be consumed:\n${pa.take(400)}")
      assert(a == (0L until 500L).filter(_ % 5 == 4).toSet)
      val (b, pb) = run("g <=> 'p2'")
      assert(!pb.contains("Filter ("),
        s"<=> v must consume as equality:\n${pb.take(400)}")
      assert(b == (0L until 500L).filter(_ % 5 == 2).toSet)
    }
  }

  test("tuple-less files disable consumption: after an external " +
       "(untupled) file commits, partition filters stay residual — " +
       "exact results through Spark's re-applied Filter, never a leak") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.x (g STRING, k BIGINT) " +
        "PARTITIONED BY (g)")
      spark.sql(s"INSERT INTO $cat.db.x SELECT concat('p', id % 2), id " +
        "FROM range(0, 100, 1, 2)")
      val dir = s"$root/db/x"
      // external writer: a mixed-partition file lands WITHOUT a tuple
      val tmp = Files.createTempDirectory("graft-ext").toString
      spark.range(100, 200).selectExpr("concat('p', id % 2) AS g",
        "id AS k").coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        new org.apache.hadoop.conf.Configuration())
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val extName = "external-untupled.parquet"
      fs.rename(new org.apache.hadoop.fs.Path(src.getAbsolutePath),
        new org.apache.hadoop.fs.Path(dir, extName))
      LakeLog.commit(dir, "external", Seq(extName), Seq.empty, 100L)
      // filtered read: consumption declined (the manifest shows an
      // untupled file) → residual Filter survives → rows exact even
      // though the external file mixes both partitions
      val df = spark.sql(s"SELECT k FROM $cat.db.x WHERE g = 'p1'")
      assert(df.queryExecution.executedPlan.toString.contains("Filter"),
        "tuple-less snapshot must keep the partition filter residual")
      assert(df.collect().map(_.getLong(0)).toSet ==
        (0L until 200L).filter(_ % 2 == 1).toSet)
      // and the filtered aggregate correctly declines metadata
      val ag = spark.sql(
        s"SELECT count(*) FROM $cat.db.x WHERE g = 'p0'")
      assert(!ag.queryExecution.executedPlan.toString
        .contains("metadata-only"))
      assert(ag.head().getLong(0) == 100)
    }
  }
}
