package abrbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{LakeSnapshots, SnapshotDelta}
import graft.pipeline.{AbrSchemas, Extract, Pipeline}
import graft.sources.{LakeIngest, SingleFileCsv}
import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** A closed-loop workload with one client: set up, then repeat
  * prepare → timed `op` → `check` → `reset`.
  */
trait Workload {
  /** Generate inputs and build the starting state under `dir`. */
  def setup(dir: Path): Unit
  /** Problems found while setting up (the path-side guard). */
  def setupProblems: Seq[String] = Nil
  /** Put back what the previous iteration consumed; not timed. */
  def prepare(): Unit = ()
  /** The user operation the workload times. */
  def op(): Unit
  /** The same operation, replayed call by call inside spans. */
  def traced(tr: Tracer, opId: Int): Unit
  /** Per-layer metrics of traced operation `opId`. */
  def layers(tr: Tracer, opId: Int): Map[String, Double]
  /** Problems with the outputs of the last operation. */
  def check(): Seq[String]
  /** Undo the last operation's effect on stored state; not timed. */
  def reset(): Unit = ()
  /** Bytes stored under the lake or table root per staged input byte,
    * as the last operation left them.
    */
  def lakeBytesPerInputByte: Double
}

object Workload {
  val table: String = Pipeline.tableName("Agency_Data")
  val header: String = AbrSchemas.agencyColumns.mkString(",")
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
  def dur(ss: Seq[Span]): Double = ss.map(_.seconds).sum
  def iso(d: LocalDate): String = d.toString
}

/** The weekly job: a zipped drop goes through `Pipeline.run`, with the
  * previous week already in the lake. `otherRows` = 0 makes an
  * Agency_Data-only drop. `expectWide` names the side of
  * `updatedNarrow`'s changed-key budget this week's churn must fall on;
  * a week of `opposite` churn must fall on the other side.
  */
final class WeeklyDrop(spark: SparkSession, seed: Long, agencyRows: Int,
                       otherRows: Int, churn: Gen.Churn, expectWide: Boolean,
                       opposite: Gen.Churn) extends Workload {
  import Workload._

  private var dir: Path = _
  private var truth: Gen.Truth = _
  private var d0, d1: LocalDate = _
  private var inputBytes = 0L
  private var problems = Seq.empty[String]
  private def lakeRoot = dir.resolve("lake").toString
  private def staging = dir.resolve("staging")
  private def pristine = dir.resolve("input").resolve(zipName)
  private def incoming = dir.resolve("incoming").resolve(zipName)
  private def zipName = s"VIC${d1.format(
    java.time.format.DateTimeFormatter.ofPattern("yyMMdd"))}_ABR.zip"
  private val datasets =
    "Agency_Data" +: (if (otherRows > 0) Gen.otherDatasets else Nil)
  private val schemas: Map[String, Seq[String]] = datasets.map { ds =>
    ds -> (if (ds == "Agency_Data") AbrSchemas.agencyColumns
           else Gen.otherColumns)
  }.toMap
  private def cfg = Pipeline.Config(
    stagingDir = staging.toString, lakeRoot = lakeRoot,
    zipFile = Some(incoming.toString), schemas = schemas,
    runId = Some("weekly"))

  /** Write one week of every dataset into `to`; returns the files. */
  private def writeWeek(pop: Gen.Population, date: LocalDate, week: Int,
                        to: Path): Seq[Path] = {
    Files.createDirectories(to)
    datasets.map { ds =>
      val p = to.resolve(Gen.fileName(date, ds))
      Gen.writeFile(p) { out =>
        if (ds == "Agency_Data") pop.write(out)
        else Gen.writeOther(out, seed, ds, otherRows, week)
      }
      p
    }
  }

  def setup(d: Path): Unit = {
    dir = d
    d0 = Gen.baseDate(seed)
    d1 = d0.plusWeeks(1)
    val pop = new Gen.Population(seed, agencyRows)
    val prev = writeWeek(pop, d0, 0, dir.resolve("prev"))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    LakeIngest.ingest(spark, dir.resolve("prev").toString, lakeRoot, schemas)
    truth = pop.advance(churn)
    val cur = writeWeek(pop, d1, 1, dir.resolve("week"))
    Files.createDirectories(pristine.getParent)
    Gen.zip(pristine, cur)
    inputBytes = (prev ++ cur).map(Files.size).sum
    rm(dir.resolve("prev"))
    rm(dir.resolve("week"))
    Gen.writeTruth(dir.resolve("expected"), truth)
    // path-side guard: the changed-key count updatedNarrow steers on
    // must sit on the intended side of its broadcast budget, and a week
    // of the opposite churn on the other side
    val budget =
      spark.sessionState.conf.autoBroadcastJoinThreshold / 64L
    val other = new Gen.Population(seed, agencyRows).advance(opposite)
    problems = Seq(truth -> expectWide, other -> !expectWide).collect {
      case (t, wide) if (t.updatedNullSafe.size > budget) != wide =>
        s"${t.updatedNullSafe.size} changed keys vs narrow budget " +
          s"$budget: expected the ${if (wide) "wide" else "narrow"} path"
    }
  }
  override def setupProblems: Seq[String] = problems

  override def prepare(): Unit = {
    rm(staging)
    Files.createDirectories(incoming.getParent)
    Files.copy(pristine, incoming, StandardCopyOption.REPLACE_EXISTING)
  }

  def op(): Unit = Pipeline.run(spark, cfg)

  /** Back to the starting state: the new week's partitions and delta
    * outputs gone, the catalog and its cached file listings as before
    * the drop, and no cached data (the changed-key set `updatedNarrow`
    * persists is never released; a weekly run in a fresh process would
    * not see it).
    */
  override def reset(): Unit = {
    spark.catalog.clearCache()
    lastRatio = Check.bytesUnder(
      java.nio.file.Paths.get(lakeRoot, "DATA")).toDouble / inputBytes
    datasets.foreach(ds => rm(java.nio.file.Paths.get(
      LakeIngest.dataPath(lakeRoot, ds), s"importdate=${iso(d1)}")))
    rm(java.nio.file.Paths.get(lakeRoot, "DELTA"))
    if (spark.catalog.tableExists(table)) {
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
        s"PARTITION (importdate = '${iso(d1)}')")
      spark.catalog.refreshTable(table)
    }
  }

  private def deltaFile(kind: String) = java.nio.file.Paths.get(lakeRoot,
    "DELTA", kind, "Agency_Data", s"importdate=${iso(d1)}",
    s"Agency_Data_${kind.toLowerCase}.csv")

  def check(): Seq[String] =
    Check.deltaCsv(deltaFile("UPDATED"), header, truth.updated) ++
      Check.deltaCsv(deltaFile("ADDED"), header, truth.added) ++
      Check.lakeLayout(lakeRoot, datasets, Seq(iso(d0), iso(d1))) ++
      (if (Files.exists(incoming)) Seq("cleanup left the zip") else Nil)

  private var lastRatio = 0.0
  def lakeBytesPerInputByte: Double = lastRatio

  private var narrowPlan = false
  private var catalogFiles = 0L
  private var partitions = 0
  private var extractedBytes = 0L

  /** `Pipeline.run` and its Agency_Data hook, stage by stage, through
    * the same public calls and in the same order.
    */
  def traced(tr: Tracer, opId: Int): Unit = {
    val c = cfg
    val log = new Pipeline.RunLog()
    def sp[A](name: String, parent: Int)(f: => A): A =
      tr.span(name, parent, opId)(_ => f)
    tr.span("pipeline.run", -1, opId) { root =>
      log("Starting ABR ETL Process")
      sp("checkDisabled", root)(Pipeline.checkDisabled(spark, c, log))
      val names = sp("Extract.unzip", root)(
        Extract.unzip(c.zipFile.get, c.stagingDir))
      extractedBytes = names.map(n => Files.size(staging.resolve(n))).sum
      log(s"Extracted ${names.size} files from ${c.zipFile.get}")
      val loaded = sp("LakeIngest.ingest", root)(LakeIngest.ingest(
        spark, c.stagingDir, c.lakeRoot, c.schemas, c.delimiter))
      loaded.foreach(i =>
        log(s"Loaded ${i.file} -> ${i.dataset}/importdate=${i.importdate}"))
      val ds = "Agency_Data"
      val cols = c.schemas(ds)
      sp("registerTable", root)(LakeIngest.registerTable(
        spark, table, c.lakeRoot, ds, cols, c.delimiter))
      val parts = sp("partitionValues", root)(
        LakeIngest.partitionValues(spark, table))
      val (newest, previous) =
        sp("partitionPair", root)(SnapshotDelta.partitionPair(parts))
      partitions = parts.size
      // MSCK REPAIR walks every partition directory and, gathering fast
      // stats, lists every file in each: count what it had to list
      catalogFiles = {
        val st = Files.walk(java.nio.file.Paths.get(
          LakeIngest.dataPath(c.lakeRoot, ds)))
        try st.iterator().asScala.count(Files.isRegularFile(_)).toLong
        finally st.close()
      }
      def snapshot(d: String) = spark.table(table)
        .where(col("importdate") === lit(d)).drop("importdate")
      val n = snapshot(newest)
      val p = snapshot(previous)
      log("Running Delta Query (Change)")
      val updated = sp("updatedNarrow", root)(SnapshotDelta.updatedNarrow(
        n, p, AbrSchemas.agencyKey,
        cols.filter(_ != AbrSchemas.agencyKey)))
      narrowPlan = updated.queryExecution.analyzed.exists {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
        case _ => false
      }
      val updPath = sp("SingleFileCsv.write.updated", root)(
        SingleFileCsv.write(updated,
          s"${c.lakeRoot}/DELTA/UPDATED/$ds/importdate=$newest",
          s"${ds}_updated.csv"))
      log(s"Delta written: $updPath")
      log("Running Delta Query (New)")
      val added = sp("added", root)(
        SnapshotDelta.added(n, p, AbrSchemas.agencyKey))
      val addPath = sp("SingleFileCsv.write.added", root)(
        SingleFileCsv.write(added,
          s"${c.lakeRoot}/DELTA/ADDED/$ds/importdate=$newest",
          s"${ds}_added.csv"))
      log(s"Delta written: $addPath")
      sp("cleanup", root) {
        loaded.foreach(i => Files.deleteIfExists(staging.resolve(i.file)))
        c.zipFile.foreach(z => Files.deleteIfExists(java.nio.file.Paths.get(z)))
        log(s"Cleaned up ${loaded.size} staging files")
      }
      log("ABR ETL Process complete")
      sp("persistLog", root) {
        val logDir = java.nio.file.Paths.get(c.lakeRoot, "LOGS")
        Files.createDirectories(logDir)
        val lines = log.events.zipWithIndex.map { case (m, i) =>
          val esc = m.replace("\\", "\\\\").replace("\"", "\\\"")
          s"""{"seq":$i,"run":"${c.runId.get}","message":"$esc"}"""
        }
        Files.writeString(logDir.resolve(s"${c.runId.get}.jsonl"),
          lines.mkString("\n"))
      }
    }
  }

  def layers(tr: Tracer, opId: Int): Map[String, Double] = {
    val ss = tr.spans.filter(_.op == opId)
    def named(ns: String*) = ss.filter(s => ns.contains(s.name))
    val root = named("pipeline.run").head
    val children = ss.filter(_.parent == root.id)
    val ingest = tr.slice(named("LakeIngest.ingest"))
    val writes = named("SingleFileCsv.write.updated", "SingleFileCsv.write.added")
    val deltaSpans = named("updatedNarrow", "added") ++ writes
    val delta = tr.slice(deltaSpans)
    val out = tr.slice(writes)
    val narrow = tr.slice(named("updatedNarrow"))
    val durations = ingest.tasks.map(_.durationMs.toDouble)
    val outRows = out.queries.map(_.m("DataWritingCommandExec.numOutputRows")).sum
    val scanned = delta.queries.map(_.m("FileSourceScanExec.numOutputRows")).sum
    Map(
      "extract.busy_s" -> dur(named("Extract.unzip")),
      "extract.bytes_out" -> extractedBytes.toDouble,
      "ingest.busy_s" -> dur(named("LakeIngest.ingest")),
      "ingest.rows_in" -> ingest.sum(_.inRecords).toDouble,
      "ingest.bytes_in" -> ingest.sum(_.inBytes).toDouble,
      "ingest.bytes_written" -> ingest.sum(_.outBytes).toDouble,
      "ingest.files_written" -> ingest.queries
        .map(_.m("DataWritingCommandExec.numFiles")).sum.toDouble,
      "ingest.tasks" -> ingest.tasks.size.toDouble,
      "ingest.task_cpu_s" -> ingest.sum(_.cpuNs) / 1e9,
      "ingest.task_skew" -> (if (durations.isEmpty) 0.0
        else durations.max / math.max(1.0, Stats.median(durations))),
      "catalog.busy_s" ->
        dur(named("registerTable", "partitionValues", "partitionPair")),
      "catalog.partitions" -> partitions.toDouble,
      "catalog.files_listed" -> catalogFiles.toDouble,
      "delta.narrow_s" -> dur(named("updatedNarrow")),
      "delta.changed_keys" -> narrow.queries
        .map(_.m("InMemoryTableScanExec.numOutputRows")).maxOption
        .getOrElse(0L).toDouble,
      "delta.wide_fallback" -> (if (narrowPlan) 0.0 else 1.0),
      "delta.shuffle_bytes" -> delta.sum(_.shuffleWrite).toDouble,
      "delta.spill_bytes" -> delta.sum(_.spill).toDouble,
      "delta.rows_scanned" -> scanned.toDouble,
      "delta.rows_scanned_per_output_row" ->
        scanned.toDouble / math.max(1L, outRows),
      "output.busy_s" -> dur(writes),
      "output.rows" -> outRows.toDouble,
      "output.bytes" -> out.queries
        .map(_.m("DataWritingCommandExec.numOutputBytes")).sum.toDouble,
      "output.single_task_s" -> out.tasks
        .filter(t => tr.stageTasks.getOrElse(t.stage, 0) == 1)
        .map(_.durationMs).sum / 1e3,
      "pipeline.self_s" -> (root.seconds - dur(children)),
      "pipeline.children_s" -> dur(children),
      "traced.run_s" -> root.seconds) ++
      Runner.runtime(tr.slice(Seq(root)))
  }
}

/** The same weekly outcome through the versioned lake: MERGE the new
  * Agency_Data week into a `graft_lake` table, then read UPDATED and
  * ADDED from its change feed and write them as single CSVs.
  */
final class VersionedMerge(spark: SparkSession, seed: Long, rows: Int,
                           churn: Gen.Churn) extends Workload {
  import Workload._

  private var dir: Path = _
  private var truth: Gen.Truth = _
  private var table = ""
  private var tableDir = ""
  private var baseVersion = 0L
  private var inputBytes = 0L
  private var rep = 0
  private def head = LakeLog.versions(tableDir).max

  private def read(p: Path): DataFrame = spark.read
    .schema(LakeIngest.stringSchema(AbrSchemas.agencyColumns))
    .option("sep", "|").option("header", "false").csv(p.toString)

  def setup(d: Path): Unit = {
    dir = d
    rep += 1
    val root = dir.getParent.resolve("lakehouse")
    if (spark.conf.getOption("spark.sql.catalog.graft_lake").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft_lake",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_lake.root", root.toString)
    }
    table = s"graft_lake.r$rep.agency"
    tableDir = root.resolve(s"r$rep").resolve("agency").toString
    val pop = new Gen.Population(seed, rows)
    Files.createDirectories(dir)
    val prev = dir.resolve("base.txt")
    Gen.writeFile(prev)(pop.write)
    truth = pop.advance(churn)
    val cur = dir.resolve("week.txt")
    Gen.writeFile(cur)(pop.write)
    inputBytes = Files.size(prev) + Files.size(cur)
    Gen.writeTruth(dir.resolve("expected"), truth)
    spark.sql(s"CREATE TABLE $table (" +
      AbrSchemas.agencyColumns.map(c => s"$c STRING").mkString(", ") + ")")
    read(prev).writeTo(table).append()
    baseVersion = head
    read(cur).createOrReplaceTempView("abr_week")
  }

  private def out(kind: String) =
    dir.resolve("DELTA").resolve(kind).resolve("Agency_Data")
  private val merge =
    """USING abr_week s ON t.pid = s.pid
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *
      |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin

  private def feed(v0: Long, v1: Long): (DataFrame, DataFrame) = {
    val ch = LakeSnapshots.changes(spark, tableDir, v0, v1)
    val cols = AbrSchemas.agencyColumns.map(col)
    val ins = ch.where(col("change_type") === "insert").select(cols: _*)
    val del = ch.where(col("change_type") === "delete").select("pid")
    (ins.join(del, Seq("pid"), "left_semi"),
     ins.join(del, Seq("pid"), "left_anti"))
  }

  def op(): Unit = {
    val v0 = head
    spark.sql(s"MERGE INTO $table t $merge")
    val (upd, add) = feed(v0, head)
    SingleFileCsv.write(upd, out("UPDATED").toString, "Agency_Data_updated.csv")
    SingleFileCsv.write(add, out("ADDED").toString, "Agency_Data_added.csv")
  }

  private var mergeVersion = 0L
  private var commits = 0L

  def traced(tr: Tracer, opId: Int): Unit =
    tr.span("merge.cycle", -1, opId) { root =>
      def sp[A](name: String)(f: => A): A = tr.span(name, root, opId)(_ => f)
      val v0 = head
      sp("MERGE INTO")(spark.sql(s"MERGE INTO $table t $merge"))
      mergeVersion = head
      commits = LakeLog.versions(tableDir).count(_ > v0).toLong
      val (upd, add) = sp("LakeSnapshots.changes")(feed(v0, mergeVersion))
      sp("SingleFileCsv.write.updated")(SingleFileCsv.write(
        upd, out("UPDATED").toString, "Agency_Data_updated.csv"))
      sp("SingleFileCsv.write.added")(SingleFileCsv.write(
        add, out("ADDED").toString, "Agency_Data_added.csv"))
    }

  def layers(tr: Tracer, opId: Int): Map[String, Double] = {
    val ss = tr.spans.filter(_.op == opId)
    def named(ns: String*) = ss.filter(s => ns.contains(s.name))
    val root = named("merge.cycle").head
    val children = ss.filter(_.parent == root.id)
    val writes = named("SingleFileCsv.write.updated", "SingleFileCsv.write.added")
    val out = tr.slice(writes)
    val snap = LakeLog.snapshotAt(tableDir, mergeVersion)
    val rewritten = snap.added.map(f => new java.io.File(tableDir, f))
      .filter(_.isFile).map(_.length).sum
    val changedRows = truth.updatedNullSafe.size + truth.added.size +
      truth.removed.size
    Map(
      "lake.merge_s" -> dur(named("MERGE INTO")),
      "lake.changes_s" -> dur(named("LakeSnapshots.changes")),
      "lake.commits" -> commits.toDouble,
      "lake.files_added" -> snap.added.size.toDouble,
      "lake.files_removed" -> snap.removed.size.toDouble,
      "lake.bytes_rewritten_per_changed_row" ->
        rewritten.toDouble / math.max(1, changedRows),
      "output.busy_s" -> dur(writes),
      "output.rows" -> out.queries
        .map(_.m("DataWritingCommandExec.numOutputRows")).sum.toDouble,
      "output.bytes" -> out.queries
        .map(_.m("DataWritingCommandExec.numOutputBytes")).sum.toDouble,
      "output.single_task_s" -> out.tasks
        .filter(t => tr.stageTasks.getOrElse(t.stage, 0) == 1)
        .map(_.durationMs).sum / 1e3,
      "pipeline.self_s" -> (root.seconds - dur(children)),
      "pipeline.children_s" -> dur(children),
      "traced.run_s" -> root.seconds) ++
      Runner.runtime(tr.slice(Seq(root)))
  }

  def check(): Seq[String] = {
    val n = spark.table(table).count()
    Check.deltaCsv(out("UPDATED").resolve("Agency_Data_updated.csv"),
      header, truth.updatedNullSafe) ++
      Check.deltaCsv(out("ADDED").resolve("Agency_Data_added.csv"),
        header, truth.added) ++
      (if (n == rows - truth.removed.size + truth.added.size) Nil
       else Seq(s"merged table has $n rows"))
  }

  private var lastRatio = 0.0
  def lakeBytesPerInputByte: Double = lastRatio

  /** Roll back to the base version and vacuum what the merge wrote. */
  override def reset(): Unit = {
    lastRatio = Check.bytesUnder(java.nio.file.Paths.get(tableDir))
      .toDouble / inputBytes
    baseVersion = LakeSnapshots.rollback(tableDir, baseVersion)
    LakeSnapshots.expire(tableDir, 1, 0L)
  }
}
