package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.operators.SnapshotDelta
import graft.operators.SnapshotDelta.{Legacy, NullSafe}
import graft.pipeline.AbrSchemas
import graft.sources.{LakeIngest, SingleFileCsv}

/** Unit coverage of the delta core (SURVEY §5.2): the change-predicate
  * NULL matrix, a fixture with known added/removed/updated rows, and
  * partition-pair selection edge cases.
  */
class SnapshotDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def snap(rows: (String, String, String)*): DataFrame =
    rows.toDF("pid", "a", "b")

  // fixture: pid1 unchanged, pid2 value-change, pid3 value->NULL,
  // pid4 NULL->value, pid5 NULL==NULL, pid6 added, pid7 removed
  private val prev = snap(
    ("p1", "x", "1"), ("p2", "x", "1"), ("p3", "x", "1"),
    ("p4", null, "1"), ("p5", null, "1"), ("p7", "x", "1"))
  private val newer = snap(
    ("p1", "x", "1"), ("p2", "y", "1"), ("p3", null, "1"),
    ("p4", "x", "1"), ("p5", null, "1"), ("p6", "x", "1"))

  private def updatedPids(mode: SnapshotDelta.ChangeMode): Set[String] =
    SnapshotDelta.updated(newer, prev, "pid", Seq("a", "b"), mode)
      .select("pid").as[String].collect().toSet

  test("legacy mode detects value changes but NOT null transitions " +
       "(3-valued !=, reference parity agency-delta.go:168-200)") {
    assert(updatedPids(Legacy) == Set("p2"))
  }

  test("null-safe mode detects value changes AND null transitions") {
    assert(updatedPids(NullSafe) == Set("p2", "p3", "p4"))
  }

  test("null-safe detects a NULL moving between columns (regression: " +
    "struct hashing skips null fields, so the fast-path hash must " +
    "include null markers)") {
    val p = snap(("p8", "x", null))
    val n = snap(("p8", null, "x"))
    assert(SnapshotDelta.updated(n, p, "pid", Seq("a", "b"), NullSafe)
      .count() == 1)
  }

  test("null == null is never a change in either mode") {
    assert(!updatedPids(Legacy).contains("p5"))
    assert(!updatedPids(NullSafe).contains("p5"))
  }

  test("updatedNarrow matches updated bit-for-bit on the NULL matrix " +
       "in both modes (the narrow-shuffle plan is a pure rewrite)") {
    // key first, and key last: rows compare by position, so the narrow
    // plan must keep the input's column order as updated does
    def keyLast(df: DataFrame) = df.select("a", "b", "pid")
    for {
      (n, p) <- Seq((newer, prev), (keyLast(newer), keyLast(prev)))
      mode <- Seq(Legacy, NullSafe)
    } {
      val plain = SnapshotDelta.updated(n, p, "pid", Seq("a", "b"), mode)
      val narrow = SnapshotDelta.updatedNarrow(n, p, "pid",
        Seq("a", "b"), mode)
      assert(narrow.columns.toSeq == plain.columns.toSeq)
      assert(narrow.collect().toSet == plain.collect().toSet,
        s"mode $mode diverged on columns ${n.columns.mkString(",")}")
    }
  }

  test("updatedNarrow preserves pair multiplicity under duplicate keys " +
       "(the changed-key steering set is distinct, but the rejoined " +
       "pairs re-run the exact pair-level filter)") {
    // d1: two prev rows x one newer row; one pair changed, one identical
    val p = snap(("d1", "x", "1"), ("d1", "y", "1"), ("d2", "x", "1"))
    val n = snap(("d1", "x", "1"), ("d2", "x", "1"))
    Seq(Legacy, NullSafe).foreach { mode =>
      val plain = SnapshotDelta.updated(n, p, "pid", Seq("a", "b"), mode)
        .collect().toSeq.map(_.toSeq).sortBy(_.toString)
      val narrow = SnapshotDelta.updatedNarrow(n, p, "pid", Seq("a", "b"), mode)
        .collect().toSeq.map(_.toSeq).sortBy(_.toString)
      assert(narrow == plain, s"mode $mode multiplicity diverged")
    }
  }

  /** A sorted row multiset. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("updatedNarrow plan pin: no shuffle exchange ever carries the " +
       "wide columns — only (key, hash) projections cross the wire; the " +
       "wide sides reach the final join semi-joined and AQE-broadcast") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    // a genuinely wide shape: 20 compared columns
    val cols = (1 to 20).map(i => s"c$i")
    def wide(seed: Int): DataFrame = {
      import org.apache.spark.sql.functions._
      val base = spark.range(0, 500).select(
        concat(org.apache.spark.sql.functions.lit("k"), $"id").as("pid") +:
          cols.map(c => concat(lit(c), $"id" % lit(seed)).as(c)): _*)
      base
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    // every execution the call and its result run: the steering list's
    // collect as well as the final query
    val (df, executions) = executionsOf {
      val df = SnapshotDelta.updatedNarrow(wide(7), wide(11), "pid", cols)
      df.collect() // materialize so AQE finalizes the plan
      df
    }
    assert(executions.size >= 2,
      s"expected the steering collect and the final query, saw ${executions.size}")
    val widths = executions.flatMap(qe => allNodes(qe.executedPlan))
      .collect { case s: ShuffleExchangeLike => s.child.output.length }
    // the pin: NO exchange, in the steering collect or in the final
    // plan, ever carries the wide columns
    assert(widths.forall(_ <= 3),
      s"a wide row crossed a shuffle: exchange widths $widths " +
        "(narrow plan must only ever shuffle key+hash)")
    // the steering list reaches the final plan as driver-held rows,
    // broadcast to the semi-joins, and nothing is left cached
    val finalNodes = allNodes(df.queryExecution.executedPlan)
    assert(finalNodes.exists {
        case b: BroadcastExchangeLike =>
          allNodes(b.child).exists(_.isInstanceOf[LocalTableScanExec])
        case _ => false
      }, "expected the changed keys as a broadcast LocalTableScan")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
  }

  test("updatedNarrow runtime guard: a most-keys-change snapshot pair " +
       "past the broadcast budget routes to the plain wide join (one " +
       "join node, no steering set), bit-parity preserved") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions._
    // EVERY key changes — the pathological rate the broadcast contract
    // excludes; the steering set is table-sized here
    val p = spark.range(0, 300).select(
      concat(lit("k"), $"id").as("pid"), lit("old").as("a"), lit("1").as("b"))
    val n = spark.range(0, 300).select(
      concat(lit("k"), $"id").as("pid"), lit("new").as("a"), lit("1").as("b"))
    val plain = SnapshotDelta.updated(n, p, "pid", Seq("a", "b"), Legacy)
      .collect().toSet
    // at the edge: 300 changed keys are one past a budget of 299 keys,
    // and exactly a budget of 300, which still takes the narrow plan
    // (two semis feeding the final pair join = 3 joins)
    for ((budget, narrow) <- Seq(299L -> false, 300L -> true))
      withBroadcastThreshold(budget * 64) {
        val df = SnapshotDelta.updatedNarrow(n, p, "pid", Seq("a", "b"),
          Legacy)
        assert(df.collect().toSet == plain)
        val semis = df.queryExecution.analyzed.exists {
          case j: Join => j.joinType == LeftSemi
          case _       => false
        }
        assert(semis == narrow, s"300 changed keys vs budget $budget")
        val joins = allNodes(df.queryExecution.executedPlan)
          .count(_.isInstanceOf[BaseJoinExec])
        if (narrow) assert(joins >= 3, s"narrow path expected, saw $joins joins")
        else assert(joins == 1,
          s"guard must route to updated's single wide join, saw $joins joins")
      }
  }

  /** A two-week Agency_Data lake written by `LakeIngest` from CSV
    * staging files and registered as `table`: (newest, previous).
    */
  private def fileLake(table: String,
                       weeks: AgencyWeeks.Pair): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = Files.createTempDirectory("graft-delta-lake")
    val staging = Files.createDirectory(base.resolve("staging"))
    val lake = base.resolve("lake").toString
    AgencyWeeks.stage(staging, weeks)
    val cols = AbrSchemas.agencyColumns
    LakeIngest.ingest(spark, staging.toString, lake, Map("Agency_Data" -> cols))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    LakeIngest.registerTable(spark, table, lake, "Agency_Data", cols)
    def snapshot(d: String) = spark.table(table)
      .where(col("importdate") === lit(d)).drop("importdate")
    (snapshot("2024-01-15"), snapshot("2024-01-08"))
  }

  test("file-sourced plan pin: over a two-week lake written by " +
       "LakeIngest, no execution of the narrow delta, the steering " +
       "collect included, shuffles more than (key, hash) columns") {
    val table = "abr_delta_pin_spec"
    val weeks = AgencyWeeks.pair(8000)
    val (n, p) = fileLake(table, weeks)
    // the benchmark's threshold for its 8,000-row weeks: the snapshots'
    // files are estimated past it, so no join is broadcast unasked
    try withBroadcastThreshold(163840) {
      val (counts, executions) = executionsOf {
        val d = SnapshotDelta.deltas(n, p, AbrSchemas.agencyKey,
          AbrSchemas.agencyCompareAttrs)
        assert(d.narrow)
        (d.updated.collect().length, d.added.collect().length)
      }
      assert(counts == (weeks.changed, weeks.added))
      assert(executions.size >= 3, s"expected the steering collect and " +
        s"both outputs, saw ${executions.size} executions")
      val widths = executions.flatMap(qe => allNodes(qe.executedPlan))
        .collect { case s: ShuffleExchangeLike => s.child.output.length }
      assert(widths.forall(_ <= 3),
        s"a wide row crossed a shuffle: exchange widths $widths")
    } finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  /** [[SnapshotDelta.deltas]] over (n, p), with its ADDED and the
    * anti-join [[SnapshotDelta.added]] as row multisets.
    */
  private def addedBoth(n: DataFrame, p: DataFrame)
      : (SnapshotDelta.Deltas, Seq[String], Seq[String]) = {
    val d = SnapshotDelta.deltas(n, p, "pid", Seq("a", "b"))
    (d, rows(d.added), rows(SnapshotDelta.added(n, p, "pid")))
  }

  test("narrow ADDED equals the anti-join with NULL keys in newest, in " +
       "previous and in both: a NULL-key row of newest is added") {
    val base = Seq(("p1", "x", "1"), ("p2", "x", "1"))
    val nulls = Seq((null: String, "n", "1"), (null: String, "m", "2"))
    for ((n, p, nullRows) <- Seq(
        (snap(base ++ nulls: _*), snap(base: _*), 2),
        (snap(base :+ (("p3", "x", "1")): _*), snap(base ++ nulls: _*), 0),
        (snap(base ++ nulls: _*), snap(base ++ nulls.take(1): _*), 2))) {
      val (d, narrow, plain) = addedBoth(n, p)
      assert(d.narrow)
      assert(narrow == plain)
      assert(narrow.count(_.startsWith("[null,")) == nullRows, narrow)
    }
  }

  test("narrow ADDED equals the anti-join under duplicate keys on " +
       "either side, and a key is counted once") {
    val p = snap(("d1", "x", "1"), ("d1", "y", "1"), ("d2", "x", "1"))
    val n = snap(("d1", "x", "1"), ("d2", "q", "1"), ("d2", "q", "1"),
      ("d3", "x", "1"), ("d3", "x", "1"), ("d3", "z", "2"))
    val (d, narrow, plain) = addedBoth(n, p)
    assert(d.narrow && d.changedKeys == 2 && d.addedKeys == 1)
    assert(narrow == plain && narrow.size == 3)
  }

  test("an all-new week adds every newest row; a week with no new keys " +
       "writes the header-only ADDED file the anti-join writes") {
    val allNew = snap(("n1", "x", "1"), ("n2", "x", "1"), ("n2", "y", "1"))
    val (d, narrow, plain) = addedBoth(allNew, prev)
    assert(d.narrow && d.changedKeys == 0 && d.addedKeys == 2)
    assert(narrow == plain && narrow.size == 3)
    val noNew = snap(("p1", "x", "1"), ("p2", "z", "1"))
    val (d2, narrow2, plain2) = addedBoth(noNew, prev)
    assert(d2.narrow && d2.addedKeys == 0 && narrow2.isEmpty && plain2.isEmpty)
    val dir = Files.createTempDirectory("graft-added").toString
    def file(df: DataFrame, name: String): String = Files.readString(
      Paths.get(new java.net.URI(SingleFileCsv.write(df, dir, name)).getPath))
    assert(file(d2.added, "narrow.csv") == "pid,a,b\n")
    assert(file(SnapshotDelta.added(noNew, prev, "pid"), "plain.csv") ==
      "pid,a,b\n")
  }

  test("budget edges: changed + added keys = budget keeps the narrow " +
       "plans, budget + 1 returns the plain ones; both outputs equal " +
       "the plain plans' either way") {
    // the steering hash is null-safe: p2, p3 and p4 changed, p6 added
    for ((budget, narrow) <- Seq(4L -> true, 3L -> false))
      withBroadcastThreshold(budget * 64) {
        val (d, narrowAdded, plainAdded) = addedBoth(newer, prev)
        assert(d.narrow == narrow, s"4 keys vs budget $budget")
        assert(d.changedKeys == 3 && d.addedKeys == 1)
        assert(narrowAdded == plainAdded && narrowAdded.size == 1)
        Seq(Legacy, NullSafe).foreach { mode =>
          assert(rows(SnapshotDelta.deltas(newer, prev, "pid",
              Seq("a", "b"), mode).updated) ==
            rows(SnapshotDelta.updated(newer, prev, "pid", Seq("a", "b"),
              mode)), s"mode $mode at budget $budget")
        }
      }
  }

  test("added = keys new in newest (anti-join intent, Readme.md:13)") {
    val pids = SnapshotDelta.added(newer, prev, "pid")
      .select("pid").as[String].collect().toSet
    assert(pids == Set("p6"))
  }

  test("removed = keys absent from newest") {
    val pids = SnapshotDelta.removed(newer, prev, "pid")
      .select("pid").as[String].collect().toSet
    assert(pids == Set("p7"))
  }

  test("addedLiteral (bug-compat mode of the reference 'new' query) " +
       "returns 0 rows with the newest schema") {
    val lit = SnapshotDelta.addedLiteral(newer)
    assert(lit.count() == 0)
    assert(lit.columns.toSeq == newer.columns.toSeq)
  }

  test("scd2 emits the right version rows per key class: unchanged keeps " +
       "its original validity, changed closes old + opens new, added " +
       "opens, removed closes; null transitions open versions") {
    val hist = SnapshotDelta.scd2(newer, prev, "pid", Seq("a", "b"),
        "2024-01-08", "2024-01-15")
      .select("pid", "a", "valid_from", "valid_to", "status")
      .as[(String, String, String, String, String)]
      .collect().toSet
    assert(hist == Set(
      // p1 unchanged, p5 NULL==NULL unchanged: current since prev date
      ("p1", "x", "2024-01-08", null, "current"),
      ("p5", null, "2024-01-08", null, "current"),
      // p2 value change, p3 value->NULL, p4 NULL->value: closed + current
      ("p2", "x", "2024-01-08", "2024-01-15", "closed"),
      ("p2", "y", "2024-01-15", null, "current"),
      ("p3", "x", "2024-01-08", "2024-01-15", "closed"),
      ("p3", null, "2024-01-15", null, "current"),
      ("p4", null, "2024-01-08", "2024-01-15", "closed"),
      ("p4", "x", "2024-01-15", null, "current"),
      // p6 added: opens; p7 removed: closes
      ("p6", "x", "2024-01-15", null, "current"),
      ("p7", "x", "2024-01-08", "2024-01-15", "closed")))
  }

  test("partitionPair picks the two newest values, newest first") {
    assert(SnapshotDelta.partitionPair(
      Seq("2024-01-01", "2024-01-15", "2024-01-08")) ==
      ("2024-01-15", "2024-01-08"))
  }

  test("partitionPair error parity with agency-delta.go:123 for 0/1 values") {
    for (vals <- Seq(Seq.empty[String], Seq("2024-01-01"))) {
      val e = intercept[IllegalStateException](
        SnapshotDelta.partitionPair(vals))
      assert(e.getMessage == "Not enough partitions to run delta")
    }
  }

  test("partitionPair dedups values (a re-listed partition is not a pair)") {
    val e = intercept[IllegalStateException](
      SnapshotDelta.partitionPair(Seq("2024-01-01", "2024-01-01")))
    assert(e.getMessage == "Not enough partitions to run delta")
  }

  test("delta_history folds every consecutive pair with the right " +
    "added/removed counts") {
    import org.apache.spark.sql.functions.col
    val rows = graft.queries.DeltaQueries
      .queries("delta_history")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val dates = graft.sources.AgencyLake.historyDates
    assert(rows.keySet == dates.tail.toSet)
    // independent arithmetic: membership of snapshot k is
    // o_orderkey % prime(k) <> 0, so added at pair (k-1 -> k) counts keys
    // divisible by prime(k-1) but not prime(k), removed the reverse
    val keys = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey")).as[Long].collect()
    val primes = Seq(11, 13, 17, 19)
    dates.tail.indices.foreach { i =>
      val (pp, np) = (primes(i), primes(i + 1))
      val expAdded = keys.count(k => k % pp == 0 && k % np != 0).toLong
      val expRemoved = keys.count(k => k % pp != 0 && k % np == 0).toLong
      val (upd, added, removed) = rows(dates(i + 1))
      assert(added == expAdded, s"added at ${dates(i + 1)}")
      assert(removed == expRemoved, s"removed at ${dates(i + 1)}")
      assert(upd > 0, s"updated at ${dates(i + 1)} should be non-empty")
    }
  }

  test("updatedNarrow steers on the current files: a snapshot rewritten " +
       "between two calls in one session changes the result, and the " +
       "persisted changed-key set is replaced, not added") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-narrow")
    // replace a snapshot's only file by one under a new name, as a
    // re-ingest of the same week does
    def put(name: String, rows: String*): Unit = {
      val d = Files.createDirectories(dir.resolve(name))
      d.toFile.listFiles.foreach(_.delete())
      Files.writeString(d.resolve(s"part-${System.nanoTime}.csv"),
        rows.mkString("", "\n", "\n"))
    }
    def load(name: String): DataFrame = spark.read
      .schema("pid string, a string, b string")
      .csv(dir.resolve(name).toString)
    def run(): Seq[String] = SnapshotDelta.updatedNarrow(
        load("newest"), load("prev"), "pid", Seq("a", "b"))
      .collect().map(_.getString(0)).toSeq.sorted
    put("prev", "p1,x,1", "p2,x,1", "p3,x,1")
    put("newest", "p1,x,1", "p2,y,1", "p3,x,1")
    assert(run() == Seq("p2"))
    val held = spark.sparkContext.getPersistentRDDs.size
    put("newest", "p1,x,1", "p2,x,1", "p3,z,1")
    assert(run() == Seq("p3"))
    assert(spark.sparkContext.getPersistentRDDs.size == held)
  }

  test("a narrow DeltaQueries delta repeated in one session returns the " +
       "same rows and holds one changed-key set, not one per execution") {
    val q = graft.queries.DeltaQueries.queries("delta_updated")
    val first = q(spark, sfDir).collect().toSet
    assert(first.nonEmpty)
    val held = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 1 to 3) assert(q(spark, sfDir).collect().toSet == first)
    assert(spark.sparkContext.getPersistentRDDs.size == held)
  }
}
