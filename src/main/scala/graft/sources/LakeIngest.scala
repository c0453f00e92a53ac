package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Staging-dir → partitioned-lake ingestion (reference S3+S4+S6:
  * load.go:38-90 classify + upload; agency-delta.go:20 partition
  * registration).
  *
  * Each staging file `VIC<yymmdd>_ABR_<Dataset>.txt` is classified by
  * [[DatasetRegistry.classify]], read as schema-on-read all-string
  * delimited text, and written gzip-compressed under the Hive layout
  * `DATA/<Dataset>/importdate=<yyyy-MM-dd>/` (load.go:19-21). The table is
  * then registered in the session catalog and partitions recovered with
  * `MSCK REPAIR TABLE` — the reference's exact statement
  * (agency-delta.go:20).
  *
  * Scale notes (100 TB): the write is one Spark job per staging file with
  * however many tasks the file splits into — gzip inputs are not
  * splittable, so a huge weekly extract lands as one task per file; the
  * *lake* side is written through Spark so a later move to splittable
  * storage (parquet, zstd-seekable) is a config change, not a rewrite.
  * Partition values are computed driver-side from filenames (metadata),
  * never by scanning data.
  */
object LakeIngest {

  /** All-string schema, parity with Athena text tables (SURVEY §1.2). */
  def stringSchema(cols: Seq[String]): StructType =
    StructType(cols.map(StructField(_, StringType, nullable = true)))

  def dataPath(lakeRoot: String, dataset: String): String =
    s"$lakeRoot/DATA/$dataset"

  /** One ingested staging file's outcome. */
  final case class Ingested(file: String, dataset: String, importdate: String)

  /** Classify every file in `stagingDir` against the registry and load the
    * matches into the lake. Non-matching files are skipped (the reference
    * iterates pattern-matches only, load.go:61-63). Returns what was
    * loaded. `schemas` maps dataset name → column names (schema-on-read;
    * datasets without an entry are skipped with a log line — their DDL
    * lives outside the repo in the reference too, SURVEY §1.2).
    */
  def ingest(
      spark: SparkSession,
      stagingDir: String,
      lakeRoot: String,
      schemas: Map[String, Seq[String]],
      delimiter: String = "|"): Seq[Ingested] = {
    val files = Files.list(Paths.get(stagingDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq.sorted
    val matched = for {
      f <- files
      c <- DatasetRegistry.classify(f).toSeq
      cols <- schemas.get(c.dataset).toSeq
    } yield (f, c, cols)
    // one Spark job per staging file, submitted concurrently (reference
    // O2: goroutine-per-file upload, load.go:60-88 — Spark's scheduler
    // interleaves the jobs' tasks; distinct (dataset, importdate) targets
    // never collide). Every job is waited for before the first failure
    // (in file order) is rethrown, so no write outlives the call.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val jobs = matched.map { case (f, c, cols) =>
      Future {
        spark.read
          .schema(stringSchema(cols))
          .option("sep", delimiter)
          .option("header", "false")
          .csv(s"$stagingDir/$f")
          .write
          .mode("overwrite") // re-ingest of the same snapshot replaces it
          .option("sep", delimiter)
          .option("compression", "gzip")
          .csv(s"${dataPath(lakeRoot, c.dataset)}/importdate=${c.importdate}")
        Ingested(f, c.dataset, c.importdate)
      }
    }
    jobs.map(Await.ready(_, Duration.Inf).value.get).map(_.get)
  }

  /** Register the dataset as a partitioned external table and recover its
    * partitions — `MSCK REPAIR TABLE`, verbatim the reference's statement
    * (agency-delta.go:20). Safe to call repeatedly; new partition
    * directories appear in the catalog after each call.
    */
  def registerTable(
      spark: SparkSession,
      tableName: String,
      lakeRoot: String,
      dataset: String,
      cols: Seq[String],
      delimiter: String = "|"): Unit = {
    val colDdl = cols.map(c => s"`$c` STRING").mkString(", ")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS `$tableName` ($colDdl, `importdate` STRING)
         |USING csv
         |OPTIONS (sep '$delimiter', header 'false')
         |PARTITIONED BY (importdate)
         |LOCATION '${dataPath(lakeRoot, dataset)}'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE `$tableName`")
  }

  /** Partition values of a registered table from catalog metadata
    * (reference S8 — a listing, never a data scan).
    */
  def partitionValues(spark: SparkSession, tableName: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS `$tableName`")
      .collect()
      .map(_.getString(0))
      .collect { case s if s.startsWith("importdate=") =>
        s.stripPrefix("importdate=")
      }.toSeq
}
