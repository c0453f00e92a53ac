package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeStats}

/** Partition-filter consumption BEYOND identity transforms — the
  * hidden-partitioning contract (Iceberg's strict projection, NOTES_r13
  * rung 3): a range comparison on a `months(d)`/`truncate(w,k)` source
  * column whose literal sits ON the partition boundary the comparison
  * needs splits every partition wholly-in or wholly-out, so file-level
  * pruning IS row-level enforcement and the scan consumes the filter.
  * Null tests (`IS NULL`/`IS NOT NULL`) are tuple-exact under EVERY
  * transform (a null source always maps to the null slot), including
  * bucket. Consumption in turn unlocks partition-filtered METADATA
  * aggregates on time-bucketed tables — a fast path that otherwise
  * exists only for identity layouts.
  *
  * Soundness guardrails exercised here: a literal OFF the boundary
  * (mid-month, mid-truncate-stride) keeps the residual Filter node and
  * stays exact; equality through a non-exact transform is never
  * consumed.
  */
class LakeHiddenConsumptionSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-hidden").toString
    n += 1
    val cat = s"hiddencat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("months(d): boundary-aligned range filters are CONSUMED (no " +
       "Filter node) and row results stay exact; off-boundary literals " +
       "keep the residual Filter and stay exact") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.ev (k BIGINT, d DATE) " +
        "PARTITIONED BY (months(d))")
      // 360 days from 1994-01-01 -> 12 month partitions
      spark.sql(s"INSERT INTO $cat.db.ev SELECT id, " +
        "date_add(DATE'1994-01-01', CAST(id % 360 AS INT)) " +
        "FROM range(0, 1440, 1, 4)")
      val all = spark.sql(s"SELECT k, d FROM $cat.db.ev").collect()
        .map(r => (r.getLong(0), r.getDate(1).toLocalDate)).toSeq

      def run(pred: String): (Set[Long], String) = {
        val df = spark.sql(s"SELECT k FROM $cat.db.ev WHERE $pred")
        (df.collect().map(_.getLong(0)).toSet, planOf(df))
      }
      def want(p: java.time.LocalDate => Boolean): Set[Long] =
        all.filter(r => p(r._2)).map(_._1).toSet

      import java.time.LocalDate
      // month floor: >= and < consume
      val (r1, p1) = run("d >= DATE'1994-03-01' AND d < DATE'1994-06-01'")
      assert(!p1.contains("Filter ("),
        s"boundary-aligned months range must be consumed:\n${p1.take(400)}")
      assert(r1 == want(d =>
        !d.isBefore(LocalDate.parse("1994-03-01")) &&
          d.isBefore(LocalDate.parse("1994-06-01"))))
      // month ceiling: <= last-of-month and > last-of-month consume
      val (r2, p2) = run("d <= DATE'1994-04-30'")
      assert(!p2.contains("Filter ("), p2.take(400))
      assert(r2 == want(!_.isAfter(LocalDate.parse("1994-04-30"))))
      val (r3, p3) = run("d > DATE'1994-08-31'")
      assert(!p3.contains("Filter ("), p3.take(400))
      assert(r3 == want(_.isAfter(LocalDate.parse("1994-08-31"))))
      // OFF-boundary literals: residual Filter survives, results exact
      val (r4, p4) = run("d >= DATE'1994-03-15'")
      assert(p4.contains("Filter ("),
        "mid-month floor literal must stay residual")
      assert(r4 == want(!_.isBefore(LocalDate.parse("1994-03-15"))))
      val (r5, p5) = run("d <= DATE'1994-04-29'")
      assert(p5.contains("Filter ("),
        "non-ceiling <= literal must stay residual")
      assert(r5 == want(!_.isAfter(LocalDate.parse("1994-04-29"))))
      // equality through months() is NOT decidable (a month partition
      // holds many dates) — residual, exact
      val (r6, p6) = run("d = DATE'1994-05-01'")
      assert(p6.contains("Filter ("),
        "equality through months() must stay residual")
      assert(r6 == want(_ == LocalDate.parse("1994-05-01")))
    }
  }

  test("months(d) tree table: a boundary-aligned range COUNT answers " +
       "from metadata reading ONLY the matching month segments " +
       "(counterized), zero footer opens") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.tm (k BIGINT, d DATE) " +
        "PARTITIONED BY (months(d))")
      // 3 commits x 12 month partitions -> per-month files
      (0 until 3).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.tm SELECT id, " +
          "date_add(DATE'1994-01-01', CAST(id % 360 AS INT)) " +
          s"FROM range(${i * 720}, ${(i + 1) * 720}, 1, 4)"))
      val foot0 = LakeStats.footerOpens.get()
      val df = spark.sql(s"SELECT count(*) AS n, min(k) AS lo, " +
        s"max(k) AS hi FROM $cat.db.tm " +
        "WHERE d >= DATE'1994-03-01' AND d < DATE'1994-06-01'")
      val row = df.head()
      assert(planOf(df).contains("metadata-only global, partition-filtered"),
        planOf(df).take(400))
      assert(LakeStats.footerOpens.get() == foot0,
        "filtered metadata aggregate opened footers")
      val inRange = (0L until 2160L).filter { id =>
        val doy = (id % 360).toInt // day offset from 1994-01-01
        doy >= 59 && doy < 151     // Mar 1 = day 59, Jun 1 = day 151
      }
      assert(row.getLong(0) == inRange.size.toLong)
      assert(row.getLong(1) == inRange.min && row.getLong(2) == inRange.max)
    }
  }

  test("identity + months composite spec: GROUP BY the identity column " +
       "under a months-range filter answers metadata-grouped") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.gm (g STRING, k BIGINT, d DATE) " +
        "PARTITIONED BY (g, months(d)) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.gm SELECT concat('p', id % 3), id, " +
        "date_add(DATE'1994-01-01', CAST(id % 360 AS INT)) " +
        "FROM range(0, 1080, 1, 4)")
      spark.sql(s"DELETE FROM $cat.db.gm WHERE k % 5 = 2") // MOR DVs
      val df = spark.sql(s"SELECT g, count(*) AS n FROM $cat.db.gm " +
        "WHERE d >= DATE'1994-07-01' GROUP BY g")
      assert(planOf(df)
          .contains("metadata-grouped per-partition, partition-filtered"),
        planOf(df).take(400))
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = (0L until 1080L)
        .filter(id => id % 5 != 2 && (id % 360) >= 181) // Jul 1 = day 181
        .groupBy(id => s"p${id % 3}").map { case (g, ids) =>
          g -> ids.size.toLong
        }
      assert(got == want)
    }
  }

  test("a months-range-filtered stream stays exact across commits " +
       "(today Spark keeps micro-batch filters post-scan; the stream's " +
       "consumed-filter guard covers the release that pushes them)") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.st (k BIGINT, d DATE) " +
        "PARTITIONED BY (months(d))")
      // two commits so the stream replays more than one batch source
      (0 until 2).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.st SELECT id, " +
          "date_add(DATE'1994-01-01', CAST(id % 360 AS INT)) " +
          s"FROM range(${i * 500}, ${(i + 1) * 500}, 1, 4)"))
      val out = Files.createTempDirectory("graft-hidden-st").toString
      val q = spark.readStream.table(s"$cat.db.st")
        .where("d >= DATE'1994-03-01' AND d < DATE'1994-06-01'")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.read.parquet(s"$out/data")
        .collect().map(_.getLong(0)).toSet
      val want = (0L until 1000L).filter { id =>
        val doy = (id % 360).toInt
        doy >= 59 && doy < 151 // [Mar 1, Jun 1)
      }.toSet
      assert(got == want,
        s"stream leaked/lost rows: extra=${(got -- want).take(5)} " +
          s"missing=${(want -- got).take(5)}")
    }
  }

  test("truncate(10, k): stride-aligned range filters consume; " +
       "mid-stride stays residual; both exact") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.tr (k BIGINT, v STRING) " +
        "PARTITIONED BY (truncate(10, k))")
      spark.sql(s"INSERT INTO $cat.db.tr SELECT id, concat('v', id) " +
        "FROM range(0, 200, 1, 4)")
      def run(pred: String): (Set[Long], String) = {
        val df = spark.sql(s"SELECT k FROM $cat.db.tr WHERE $pred")
        (df.collect().map(_.getLong(0)).toSet, planOf(df))
      }
      val (a, pa) = run("k >= 40 AND k < 120") // both on stride floors
      assert(!pa.contains("Filter ("), pa.take(400))
      assert(a == (40L until 120L).toSet)
      val (b, pb) = run("k <= 59") // 59 is the stride ceiling
      assert(!pb.contains("Filter ("), pb.take(400))
      assert(b == (0L to 59L).toSet)
      val (c, pc) = run("k >= 45") // mid-stride: residual
      assert(pc.contains("Filter ("), "mid-stride floor must stay residual")
      assert(c == (45L until 200L).toSet)
      // equality through truncate is NOT decidable — residual, exact
      val (d, pd) = run("k = 77")
      assert(pd.contains("Filter ("))
      assert(d == Set(77L))
    }
  }

  test("bucket(4, g): IS NULL / IS NOT NULL consume under ANY " +
       "transform (null slot is tuple-exact); equality stays residual") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.bk (g STRING, k BIGINT) " +
        "PARTITIONED BY (bucket(4, g))")
      spark.sql(s"INSERT INTO $cat.db.bk SELECT " +
        "CASE WHEN id % 7 = 3 THEN NULL ELSE concat('g', id % 5) END, id " +
        "FROM range(0, 700, 1, 4)")
      def run(pred: String): (Set[Long], String) = {
        val df = spark.sql(s"SELECT k FROM $cat.db.bk WHERE $pred")
        (df.collect().map(_.getLong(0)).toSet, planOf(df))
      }
      val (a, pa) = run("g IS NULL")
      assert(!pa.contains("Filter ("),
        s"IS NULL must consume under bucket:\n${pa.take(400)}")
      assert(a == (0L until 700L).filter(_ % 7 == 3).toSet)
      val (b, pb) = run("g IS NOT NULL")
      assert(!pb.contains("Filter ("), pb.take(400))
      assert(b == (0L until 700L).filter(_ % 7 != 3).toSet)
      // bucket equality: prunable (hash bucket) but NOT consumable —
      // a bucket holds many values
      val (c, pc) = run("g = 'g2'")
      assert(pc.contains("Filter ("),
        "bucket equality must stay residual")
      assert(c == (0L until 700L).filter(id =>
        id % 7 != 3 && id % 5 == 2).toSet)
      // a filtered COUNT over the null partition: IS NULL consumed on
      // a fully-tupled snapshot -> metadata answer
      val d = spark.sql(
        s"SELECT count(*) AS n FROM $cat.db.bk WHERE g IS NULL")
      assert(planOf(d).contains("metadata-only global, partition-filtered"),
        planOf(d).take(400))
      assert(d.head().getLong(0) == (0L until 700L).count(_ % 7 == 3))
    }
  }
}
