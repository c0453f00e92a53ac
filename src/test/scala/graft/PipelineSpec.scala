package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}

import graft.pipeline.{AbrSchemas, AgencyDeltaStage, Pipeline}
import graft.sources.LakeIngest

/** End-to-end pipeline test (SURVEY §5.4): a staging dir of synthetic
  * `VIC<yymmdd>_ABR_Agency_Data.txt` files → full run → assert lake
  * layout, single-file delta CSV names + contents, hook execution,
  * cleanup, the delta's partition pruning, its logged path and its
  * Spark jobs and scans; plus the kill-switch abort path, the
  * not-enough-partitions log-and-continue path, a failed ingest that
  * leaves no job running and the run log a failed run still persists.
  */
class PipelineSpec extends SparkSpec {

  import AgencyWeeks.row

  private def freshDirs(): (Path, Path) = {
    val base = Files.createTempDirectory("graft-pipe")
    val staging = Files.createDirectory(base.resolve("staging"))
    val lake = base.resolve("lake")
    (staging, lake)
  }

  private def write(dir: Path, name: String, rows: Seq[String]): Unit =
    Files.writeString(dir.resolve(name), rows.mkString("\n"))

  /** Businessname's columns: the reference has no DDL for the other
    * datasets in the repository, so any caller-supplied list serves.
    */
  private val bnCols = Seq("pid", "abn", "bus_nm", "bus_stat", "bus_val")

  private def dropAgencyTable(): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${Pipeline.tableName("Agency_Data")}")

  test("full run: staging files -> partitioned lake -> delta CSVs " +
       "with the reference's exact paths, names, and rows") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    // previous week: p1 unchanged, p2 will change, p3 will be removed
    write(staging, "VIC240108_ABR_Agency_Data.txt",
      Seq(row("p1"), row("p2"), row("p3")))
    // newest week: p2 changed org_nm, p4 added
    write(staging, "VIC240115_ABR_Agency_Data.txt",
      Seq(row("p1"), row("p2", Map("org_nm" -> "CHANGED")), row("p4")))
    write(staging, "notes.txt", Seq("decoy - must be ignored"))

    val log = new Pipeline.RunLog()
    val cfg = Pipeline.Config(staging.toString, lake.toString,
      runId = Some("testrun"))
    val loaded = Pipeline.run(spark, cfg, log)

    // O5: structured log stream persisted per run
    val logFile = lake.resolve("LOGS/testrun.jsonl")
    assert(Files.exists(logFile))
    val logLines = Files.readAllLines(logFile).asScala
    assert(logLines.head.contains("\"seq\":0"))
    assert(logLines.exists(_.contains("Running Delta Query (Change)")))
    // the steering pass reports its path and key counts
    assert(log.events.contains(
      "Delta path: narrow, changed keys 1, added keys 1"), log.events)

    assert(loaded.map(_.importdate).sorted == Seq("2024-01-08", "2024-01-15"))
    // lake layout (reference load.go:19-21), gzip files inside
    val p1 = lake.resolve("DATA/Agency_Data/importdate=2024-01-08")
    val p2 = lake.resolve("DATA/Agency_Data/importdate=2024-01-15")
    assert(Files.isDirectory(p1) && Files.isDirectory(p2))
    assert(Files.list(p2).iterator().asScala.exists(_.toString.endsWith(".csv.gz")))

    // delta output contract (agency-delta.go:35,40; Readme.md:14-17)
    val upd = lake.resolve(
      "DELTA/UPDATED/Agency_Data/importdate=2024-01-15/Agency_Data_updated.csv")
    val add = lake.resolve(
      "DELTA/ADDED/Agency_Data/importdate=2024-01-15/Agency_Data_added.csv")
    assert(Files.exists(upd), s"missing $upd")
    assert(Files.exists(add), s"missing $add")

    val updLines = Files.readAllLines(upd).asScala
    assert(updLines.head.startsWith("pid,abn,"), "header row expected")
    assert(updLines.tail.map(_.takeWhile(_ != ',')) == Seq("p2"))
    assert(updLines.tail.head.contains("CHANGED"))

    val addLines = Files.readAllLines(add).asScala
    assert(addLines.tail.map(_.takeWhile(_ != ',')) == Seq("p4"))

    // staging cleaned up for loaded files only (reference S10)
    assert(!Files.exists(staging.resolve("VIC240115_ABR_Agency_Data.txt")))
    assert(Files.exists(staging.resolve("notes.txt")))
    dropAgencyTable()
  }

  test("re-running a week in one session succeeds with identical delta " +
       "outputs and leaves no persisted RDD behind") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    def stage(): Unit = {
      write(staging, "VIC240108_ABR_Agency_Data.txt",
        Seq(row("p1"), row("p2"), row("p3")))
      write(staging, "VIC240115_ABR_Agency_Data.txt",
        Seq(row("p1"), row("p2", Map("org_nm" -> "CHANGED")), row("p4")))
    }
    val outputs = Seq("UPDATED", "ADDED").map(k => lake.resolve(
      s"DELTA/$k/Agency_Data/importdate=2024-01-15/Agency_Data_${k.toLowerCase}.csv"))
    val cfg = Pipeline.Config(staging.toString, lake.toString)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val runs = (1 to 2).map { _ =>
      stage()
      Pipeline.run(spark, cfg)
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
      outputs.map(p => Files.readAllLines(p).asScala.toSeq)
    }
    assert(runs(0) == runs(1))
    assert(runs(0)(0).tail.map(_.takeWhile(_ != ',')) == Seq("p2"))
    assert(runs(0)(1).tail.map(_.takeWhile(_ != ',')) == Seq("p4"))
    dropAgencyTable()
  }

  test("the persisted run log escapes control characters: every line " +
       "parses as JSON and messages round-trip") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240115_ABR_Agency_Data.txt", Seq(row("p1")))
    val tricky = "a\nb\t\"c\"\\ \u0000\u001f\u007f é"
    val cfg = Pipeline.Config(staging.toString, lake.toString,
      runId = Some("ctl"),
      hooks = Map("Agency_Data" -> Seq((_, _, _, log) => log(tricky))))
    val log = new Pipeline.RunLog()
    Pipeline.run(spark, cfg, log)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(lake.resolve("LOGS/ctl.jsonl")).asScala
    assert(lines.size == log.events.size)
    val parsed = lines.map(l => mapper.readTree(l))
    assert(parsed.map(_.get("message").asText()) == log.events)
    assert(parsed.map(_.get("seq").asInt()) == log.events.indices)
    assert(log.events.contains(tricky))
    dropAgencyTable()
  }

  test("a failed run still persists its log, ending with an event that " +
       "names the exception; the exception itself propagates unchanged") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240115_ABR_Agency_Data.txt", Seq(row("p1")))
    val boom = new IllegalStateException("hook exploded")
    val cfg = Pipeline.Config(staging.toString, lake.toString,
      runId = Some("failed"),
      hooks = Map("Agency_Data" -> Seq((_, _, _, log) => {
        log("hook started"); throw boom
      })))
    val thrown = intercept[IllegalStateException](Pipeline.run(spark, cfg))
    assert(thrown eq boom)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(lake.resolve("LOGS/failed.jsonl")).asScala
    val messages = lines.map(l => mapper.readTree(l).get("message").asText())
    assert(messages.contains("hook started"), messages)
    assert(messages.last.contains("java.lang.IllegalStateException") &&
      messages.last.contains("hook exploded"), messages.last)
    dropAgencyTable()
  }

  test("two datasets in one run: Businessname flows through the same " +
       "staging -> classify -> lake -> table path via Config.schemas, " +
       "with its own (pluggable) hook and no delta") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240115_ABR_Agency_Data.txt", Seq(row("p1")))
    write(staging, "VIC240115_ABR_Businessname.txt",
      Seq("b1|111|ACME PTY LTD|R|10.00", "b2|222|WIDGETS CO|C|20.50"))

    var hookRan: Option[String] = None
    val cfg = Pipeline.Config(staging.toString, lake.toString,
      schemas = Map(
        "Agency_Data" -> AbrSchemas.agencyColumns,
        "Businessname" -> bnCols),
      hooks = Map("Businessname" -> Seq((_, _, ds, log) => {
        hookRan = Some(ds); log(s"hook:$ds")
      })))
    val log = new Pipeline.RunLog()
    val loaded = Pipeline.run(spark, cfg, log)

    assert(loaded.map(_.dataset).sorted == Seq("Agency_Data", "Businessname"))
    val bnPart = lake.resolve("DATA/Businessname/importdate=2024-01-15")
    assert(Files.isDirectory(bnPart))
    assert(Files.list(bnPart).iterator().asScala
      .exists(_.toString.endsWith(".csv.gz")))
    assert(hookRan.contains("Businessname"))
    assert(log.events.contains("hook:Businessname"))
    // no delta hook configured for either dataset in this run
    assert(!Files.exists(lake.resolve("DELTA")))

    // MSCK-registered table reads the rows back with the placeholder schema
    val table = "abr_weekly_businessname_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    LakeIngest.registerTable(
      spark, table, lake.toString, "Businessname", bnCols)
    val back = spark.table(table)
      .orderBy("pid").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(4)))
    assert(back.toSeq == Seq(
      ("b1", "ACME PTY LTD", "10.00"), ("b2", "WIDGETS CO", "20.50")))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    dropAgencyTable()
  }

  test("zip-driven run: archive -> extract -> lake; archive and staging " +
       "files cleaned up (extract.go:56-63, abr-etl.go:52-57)") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    val zip = staging.getParent.resolve("VIC_ABR_Extract.zip")
    val zout = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(zip))
    zout.putNextEntry(new java.util.zip.ZipEntry("VIC240115_ABR_Agency_Data.txt"))
    zout.write(Seq(row("p1"), row("p2")).mkString("\n").getBytes("UTF-8"))
    zout.closeEntry()
    // path component must be flattened (zip-slip guard)
    zout.putNextEntry(new java.util.zip.ZipEntry("sub/dir/notes.bin"))
    zout.write("x".getBytes("UTF-8"))
    zout.closeEntry()
    zout.close()

    val cfg = Pipeline.Config(staging.toString, lake.toString,
      zipFile = Some(zip.toString))
    val loaded = Pipeline.run(spark, cfg)
    assert(loaded.map(_.importdate) == Seq("2024-01-15"))
    assert(Files.isDirectory(
      lake.resolve("DATA/Agency_Data/importdate=2024-01-15")))
    assert(!Files.exists(zip), "archive must be cleaned up")
    assert(Files.exists(staging.resolve("notes.bin")), "flattened decoy kept")
    dropAgencyTable()
  }

  test("QueryApi: sql -> single CSV named <query-id>.csv at the output " +
       "location (agency-delta.go:248-279 contract)") {
    val out = Files.createTempDirectory("graft-qapi").toString
    val path = graft.pipeline.QueryApi.query(spark,
      "SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y'", out)
    assert(path.endsWith(".csv"))
    val lines = Files.readAllLines(Paths.get(
      path.stripPrefix("file:"))).asScala
    assert(lines.head == "a,b")
    assert(lines.tail.toSet == Set("1,x", "2,y"))
  }

  test("kill-switch: content 'disabled' aborts before any load " +
       "(abr-etl.go:59-78); other content does not") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240115_ABR_Agency_Data.txt", Seq(row("p1")))
    Files.createDirectories(lake)
    Files.writeString(lake.resolve("disabled"), "disabled")

    val cfg = Pipeline.Config(staging.toString, lake.toString,
      runId = Some("killed"))
    intercept[Pipeline.DisabledException](Pipeline.run(spark, cfg))
    assert(!Files.exists(lake.resolve("DATA")), "nothing may be loaded")
    assert(Files.exists(staging.resolve("VIC240115_ABR_Agency_Data.txt")))
    // the aborted run still persists its log
    val killedLog = Files.readString(lake.resolve("LOGS/killed.jsonl"))
    assert(killedLog.contains("ETL Disabled"), killedLog)

    // a flag with other content is ignored (reference compares the body)
    Files.writeString(lake.resolve("disabled"), "enabled")
    val loaded = Pipeline.run(spark, cfg)
    assert(loaded.size == 1)
    dropAgencyTable()
  }

  test("single partition: delta hook logs 'Not enough partitions' and " +
       "continues (agency-delta.go:24-27,123)") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240115_ABR_Agency_Data.txt", Seq(row("p1")))
    val log = new Pipeline.RunLog()
    Pipeline.run(spark, Pipeline.Config(staging.toString, lake.toString), log)
    assert(log.events.contains("Not enough partitions to run delta"))
    assert(!Files.exists(lake.resolve("DELTA")))
    assert(log.events.contains("ABR ETL Process complete"))
    dropAgencyTable()
  }

  test("the delta stage reads each snapshot from its own importdate " +
       "partition only") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240101_ABR_Agency_Data.txt", Seq(row("p1"), row("p2")))
    write(staging, "VIC240108_ABR_Agency_Data.txt",
      Seq(row("p1"), row("p2"), row("p3")))
    write(staging, "VIC240115_ABR_Agency_Data.txt",
      Seq(row("p1"), row("p2", Map("org_nm" -> "CHANGED")), row("p4")))
    var executions = Seq.empty[QueryExecution]
    val delta: (SparkSession, Pipeline.Config, String, Pipeline.RunLog) => Unit =
      (s, c, ds, log) =>
        executions = executionsOf(AgencyDeltaStage.run(s, c, ds, log))._2
    Pipeline.run(spark, Pipeline.Config(staging.toString, lake.toString,
      hooks = Map("Agency_Data" -> Seq(delta))))
    assert(Files.exists(lake.resolve(
      "DELTA/UPDATED/Agency_Data/importdate=2024-01-15/Agency_Data_updated.csv")))
    // the steering collect and UPDATED scan both snapshots; ADDED scans
    // newest once more
    val ss = executions.flatMap(qe => allNodes(qe.executedPlan))
      .collect { case s: FileSourceScanExec => s }
    assert(ss.size == 5, s"expected every delta scan, saw ${ss.size}")
    ss.foreach { scan =>
      val pf = scan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("importdate"),
        s"expected an importdate partition filter, got: $pf")
      val selected = scan.metrics.get("numPartitions").map(_.value)
      assert(selected.contains(1L),
        s"each side must list exactly its own partition, got $selected")
    }
    dropAgencyTable()
  }

  test("a week past the steering budget logs the wide path and writes " +
       "the same deltas") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240108_ABR_Agency_Data.txt",
      Seq(row("p1"), row("p2"), row("p3")))
    write(staging, "VIC240115_ABR_Agency_Data.txt",
      Seq(row("p1"), row("p2", Map("org_nm" -> "CHANGED")), row("p4")))
    val log = new Pipeline.RunLog()
    // a budget of one key: one changed and one added key exceed it
    withBroadcastThreshold(64) {
      Pipeline.run(spark, Pipeline.Config(staging.toString, lake.toString),
        log)
    }
    assert(log.events.contains(
      "Delta path: wide, changed keys >= 1, added keys >= 1"), log.events)
    for ((kind, pid) <- Seq("UPDATED" -> "p2", "ADDED" -> "p4")) {
      val lines = Files.readAllLines(lake.resolve(s"DELTA/$kind/Agency_Data/" +
        s"importdate=2024-01-15/Agency_Data_${kind.toLowerCase}.csv")).asScala
      assert(lines.tail.map(_.takeWhile(_ != ',')) == Seq(pid), kind)
    }
    dropAgencyTable()
  }

  test("the delta stage's Spark work on a benchmark-shaped week: one " +
       "steering pass, previous scanned twice, newest three times") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    val weeks = AgencyWeeks.pair(8000)
    AgencyWeeks.stage(staging, weeks)
    val jobs = new LinkedBlockingQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e)
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    def marks(e: SparkListenerJobStart, name: String): Boolean =
      Option(e.properties).exists(p =>
        p.getProperty("spark.job.description") == name)
    var executions = Seq.empty[QueryExecution]
    val log = new Pipeline.RunLog()
    val delta: (SparkSession, Pipeline.Config, String, Pipeline.RunLog) => Unit =
      (s, c, ds, l) => executions = executionsOf {
        marker("start_marker")
        AgencyDeltaStage.run(s, c, ds, l)
        marker("marker")
      }._2
    spark.sparkContext.addSparkListener(listener)
    val counted = try {
      // the benchmark's threshold for its 8,000-row weeks
      withBroadcastThreshold(163840) {
        Pipeline.run(spark, Pipeline.Config(staging.toString, lake.toString,
          hooks = Map("Agency_Data" -> Seq(delta))), log)
      }
      Iterator.continually(jobs.poll(60, TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .dropWhile(e => !marks(e, "start_marker")).drop(1)
        .takeWhile(e => !marks(e, "marker"))
        .toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log.events.contains(s"Delta path: narrow, changed keys " +
      s"${weeks.changed}, added keys ${weeks.added}"), log.events)
    // the steering collect (two narrow map stages and the collect), the
    // UPDATED write (the changed-key list's broadcast, the cut previous
    // side's broadcast and the write) and the ADDED write (the added-key
    // list's broadcast and the write)
    assert(counted.size == 8, s"${counted.size} jobs: " +
      counted.map(_.properties.getProperty("spark.rdd.scope")).mkString("; "))
    val scans = executions.flatMap(qe => allNodes(qe.executedPlan))
      .collect { case s: FileSourceScanExec => s }
    def scansOf(d: String) = scans.filter(
      _.metadata.getOrElse("PartitionFilters", "").contains(d))
    assert(scansOf("2024-01-08").size == 2, "previous: steering and UPDATED")
    assert(scansOf("2024-01-15").size == 3,
      "newest: steering, UPDATED and ADDED")
    val scanned = scans.map(_.metrics("numOutputRows").value).sum
    assert(scanned == 2 * weeks.previous.size + 3 * weeks.newest.size)
    dropAgencyTable()
  }

  test("a failed file fails the run only after every other ingest job " +
       "has finished") {
    dropAgencyTable()
    val (staging, lake) = freshDirs()
    write(staging, "VIC240115_ABR_Agency_Data.txt", Seq(row("p1")))
    // enough rows that Businessname's job outlasts Agency_Data's failure
    val bnRows = 200000
    write(staging, "VIC240115_ABR_Businessname.txt",
      (0 until bnRows).map(i => s"b$i|$i|NAME $i|R|$i.00"))
    // a regular file where Agency_Data's lake directory should be
    Files.createDirectories(lake.resolve("DATA"))
    Files.writeString(lake.resolve("DATA/Agency_Data"), "not a directory")
    val starts = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    val returned = try {
      intercept[Exception](Pipeline.run(spark, Pipeline.Config(
        staging.toString, lake.toString,
        schemas = Map(
          "Agency_Data" -> AbrSchemas.agencyColumns,
          "Businessname" -> bnCols))))
      val t = System.currentTimeMillis()
      val bnPart = lake.resolve("DATA/Businessname/importdate=2024-01-15")
      assert(Files.exists(bnPart.resolve("_SUCCESS")),
        "the other dataset's partition must be complete when run throws")
      // give a straggler job time to be submitted and reported
      Thread.sleep(2000)
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!starts.isEmpty, "the Businessname job must have run")
    assert(starts.asScala.forall(_ <= returned),
      "a job started after Pipeline.run had thrown")
    val back = spark.read.schema(LakeIngest.stringSchema(bnCols))
      .option("sep", "|")
      .csv(lake.resolve("DATA/Businessname/importdate=2024-01-15").toString)
    assert(back.count() == bnRows)
    dropAgencyTable()
  }
}
