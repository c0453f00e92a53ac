package graft.pipeline

import java.util.concurrent.{ExecutionException, FutureTask}

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SnapshotDelta
import graft.sources.{LakeIngest, SingleFileCsv}

/** The weekly pipeline, end to end — the reference's `main` sequence
  * (abr-etl.go:22-41): kill-switch check → extract → load to the
  * partitioned lake → post-load hooks (Agency_Data → delta) → cleanup.
  *
  * Error policy mirrors the reference (SURVEY §2.5 O6): relational/query
  * failures abort the run (the reference `log.Fatal`s only inside `Query`,
  * agency-delta.go:261,268); environment/I-O hiccups — unmatched staging
  * files, a missing partition pair — are logged and the run continues
  * (load.go:65-67, agency-delta.go:24-27).
  */
object Pipeline {

  /** Structured run log (reference O5: the async CloudWatch channel,
    * abr-etl.go:43-50,85-120). Events are collected per run; a sink can
    * forward them anywhere.
    */
  final class RunLog(sink: String => Unit = _ => ()) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(msg: String): Unit = synchronized { buf += msg; sink(msg) }
    def events: Seq[String] = synchronized(buf.toSeq)
  }

  /** Raised when the kill-switch flag is set (reference S9:
    * checkDisabledStatus, abr-etl.go:59-78, exits the process; we raise —
    * the caller owns process lifecycle).
    */
  final class DisabledException(path: String)
    extends RuntimeException(s"ETL Disabled - $path")

  final case class Config(
      stagingDir: String,
      lakeRoot: String,
      /** weekly archive to unpack into stagingDir before ingest
        * (reference S2; the SFTP download S1 stays outside the engine).
        */
      zipFile: Option[String] = None,
      schemas: Map[String, Seq[String]] =
        Map("Agency_Data" -> AbrSchemas.agencyColumns),
      delimiter: String = "|",
      /** dataset → post-load hooks (reference O3: load.go:55-56). */
      hooks: Map[String, Seq[(SparkSession, Config, String, RunLog) => Unit]] =
        Map("Agency_Data" -> Seq(AgencyDeltaStage.run)),
      /** run id naming the persisted log stream (reference O5 names its
        * CloudWatch stream per run, abr-etl.go:43-50); None disables
        * persistence.
        */
      runId: Option[String] = None)

  /** `s` as a JSON string literal (RFC 8259 §7): quote, backslash and
    * every control character U+0000–U+001F escaped, so a message keeps
    * the run log at one JSON object per line.
    */
  private[pipeline] def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def tableName(dataset: String): String = s"abr_weekly_${dataset.toLowerCase}"

  /** Check the kill-switch flag: a file named `disabled` under the lake
    * root whose content is the string "disabled" (reference:
    * abr-etl.go:59-78 — any read error is logged and ignored; only the
    * exact content disables).
    */
  def checkDisabled(spark: SparkSession, cfg: Config, log: RunLog): Unit = {
    val p = new Path(cfg.lakeRoot, "disabled")
    try {
      val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
      if (fs.exists(p)) {
        val in = fs.open(p)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        if (body.trim == "disabled") {
          log(s"ETL Disabled - $p")
          throw new DisabledException(p.toString)
        }
      }
    } catch {
      case e: DisabledException => throw e
      case e: Exception => log(s"kill-switch check: ${e.getMessage}")
    }
  }

  /** Run the full pipeline. Returns what was ingested. The run log is
    * persisted whether the run succeeds or fails; a failed run's last
    * event names the exception, which then propagates unchanged.
    */
  def run(spark: SparkSession, cfg: Config,
          log: RunLog = new RunLog()): Seq[LakeIngest.Ingested] = {
    var failure: Throwable = null
    try {
      log("Starting ABR ETL Process")
      checkDisabled(spark, cfg, log)
      cfg.zipFile.foreach { z =>
        val names = Extract.unzip(z, cfg.stagingDir)
        log(s"Extracted ${names.size} files from $z")
      }
      val loaded = LakeIngest.ingest(
        spark, cfg.stagingDir, cfg.lakeRoot, cfg.schemas, cfg.delimiter)
      loaded.foreach(i => log(s"Loaded ${i.file} -> ${i.dataset}/importdate=${i.importdate}"))
      loaded.map(_.dataset).distinct.foreach { ds =>
        cfg.hooks.getOrElse(ds, Nil).foreach(_(spark, cfg, ds, log))
      }
      // delete staging files after a successful load (reference S10); the
      // reference's CleanUp also unlinks the downloaded archive
      // (abr-etl.go:52-57)
      loaded.foreach { i =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(cfg.stagingDir, i.file))
      }
      cfg.zipFile.foreach(z =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(z)))
      log(s"Cleaned up ${loaded.size} staging files")
      log("ABR ETL Process complete")
      loaded
    } catch {
      case e: Throwable =>
        failure = e
        log(s"ABR ETL Process failed: ${e.getClass.getName}: ${e.getMessage}")
        throw e
    } finally {
      // a log that cannot be written must not mask the run's own failure
      try persistLog(cfg, log)
      catch { case e: Throwable if failure != null => failure.addSuppressed(e) }
    }
  }

  /** O5: persist the structured event stream, one JSON object per line,
    * under LOGS/<runId>.jsonl (the CloudWatch-stream analog).
    */
  private def persistLog(cfg: Config, log: RunLog): Unit =
    cfg.runId.foreach { id =>
      val dir = java.nio.file.Paths.get(cfg.lakeRoot, "LOGS")
      java.nio.file.Files.createDirectories(dir)
      val lines = log.events.zipWithIndex.map { case (m, i) =>
        s"""{"seq":$i,"run":${jsonString(id)},"message":${jsonString(m)}}"""
      }
      java.nio.file.Files.writeString(
        dir.resolve(s"$id.jsonl"), lines.mkString("\n"))
    }
}

/** The Agency_Data post-load hook: register/repair the table, pick the two
  * newest partitions from catalog metadata, compute UPDATED and ADDED
  * deltas, and write each as a single stably-named CSV under the
  * reference's output contract (agency-delta.go:18-42; Readme.md:14-17):
  *
  *   DELTA/UPDATED/Agency_Data/importdate=<newest>/Agency_Data_updated.csv
  *   DELTA/ADDED/Agency_Data/importdate=<newest>/Agency_Data_added.csv
  */
object AgencyDeltaStage {

  def run(spark: SparkSession, cfg: Pipeline.Config, dataset: String,
          log: Pipeline.RunLog): Unit = {
    val table = Pipeline.tableName(dataset)
    val cols = cfg.schemas(dataset)
    LakeIngest.registerTable(
      spark, table, cfg.lakeRoot, dataset, cols, cfg.delimiter)
    val parts = LakeIngest.partitionValues(spark, table)
    val (newest, previous) =
      try SnapshotDelta.partitionPair(parts)
      catch {
        // log-and-continue: the reference returns from AgencyDelta on a
        // partition-listing error (agency-delta.go:24-27)
        case e: IllegalStateException => log(e.getMessage); return
      }
    def snapshot(d: String) =
      spark.table(table).where(col("importdate") === lit(d)).drop("importdate")
    val n = snapshot(newest)
    val p = snapshot(previous)

    // one steering pass classifies the changed and added keys; both
    // outputs are planned from it (see SnapshotDelta.deltas)
    val d = SnapshotDelta.deltas(
      n, p, AbrSchemas.agencyKey, cols.filter(_ != AbrSchemas.agencyKey))
    val bound = if (d.narrow) "" else ">= "
    log(s"Delta path: ${if (d.narrow) "narrow" else "wide"}, " +
      s"changed keys $bound${d.changedKeys}, added keys $bound${d.addedKeys}")

    // UPDATED and ADDED are independent once the key lists are on the
    // driver, so the two writes run at once (ADDED on a thread of its
    // own, which inherits this one's Spark properties); both are waited
    // for before a failure, UPDATED's first, is rethrown
    def write(df: DataFrame, kind: String): String = SingleFileCsv.write(df,
      s"${cfg.lakeRoot}/DELTA/${kind.toUpperCase}/$dataset/importdate=$newest",
      s"${dataset}_$kind.csv")
    log("Running Delta Query (Change)")
    log("Running Delta Query (New)")
    val addedWrite = new FutureTask[String](() => write(d.added, "added"))
    new Thread(addedWrite, s"$dataset-added-delta").start()
    val updPath = Try(write(d.updated, "updated"))
    val addPath =
      try addedWrite.get()
      catch {
        case e: ExecutionException => throw updPath.failed.getOrElse(e.getCause)
      }
    log(s"Delta written: ${updPath.get}")
    log(s"Delta written: $addPath")
  }
}
