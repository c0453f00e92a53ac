package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.SingleFileCsv

/** The single-file CSV sink against Spark's own CSV writer: same bytes
  * for awkward values, types, options and the empty result; row order
  * kept; atomic replacement; the writer's schema checks; and one SQL
  * execution per write with no write command in it.
  */
class SingleFileCsvSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tmpDir(): Path = Files.createTempDirectory("graft-sfc")

  private def read(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(new java.net.URI(path).getPath))

  /** What `df.write.csv` writes for `df` through one task. */
  private def sparkCsv(df: DataFrame, header: Boolean,
                       sep: String): Array[Byte] = {
    val out = tmpDir().resolve("ref")
    df.coalesce(1).write.mode("overwrite")
      .option("header", header.toString).option("sep", sep)
      .csv(out.toString)
    val parts = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"reference writer produced $parts")
    Files.readAllBytes(parts.head)
  }

  private def sink(df: DataFrame, header: Boolean, sep: String,
                   dir: Path = tmpDir(), name: String = "out.csv"): String =
    SingleFileCsv.write(df, dir.toString, name, header, sep)

  private def withTimeZone[A](tz: String)(f: => A): A = {
    val old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try f finally spark.conf.set("spark.sql.session.timeZone", old)
  }

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("n", LongType),
    StructField("d", DecimalType(18, 2)), StructField("x", DoubleType),
    StructField("dt", DateType), StructField("ts", TimestampType)))

  private val strings = Seq("plain", "has,comma", "has|pipe",
    "has \"quotes\"", "back\\slash\\", "line\nbreak", "cr\r\nlf",
    "  padded  ", " ", "naïve 漢字 ü", "", null, "\"", "\\\"")

  private def tricky: DataFrame = {
    val rows = strings.zipWithIndex.map { case (s, i) =>
      if (i % 5 == 4) Row(s, null, null, null, null, null)
      else Row(s, i * 1000000007L - 3L,
        new java.math.BigDecimal(s"${i * 37}.${i % 10}5").negate(),
        Seq(1.5, -0.0, 1e20, Double.NaN, 3.14159, 1e-7)(i % 6),
        Date.valueOf(s"2024-0${1 + i % 9}-1${i % 10}"),
        Timestamp.valueOf(s"2024-03-31 0${i % 10}:30:00.${100 + i}"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("bytes match Spark's CSV writer: delimiter, quotes, backslash, " +
       "newlines, padding, non-ASCII, NULL vs empty; bigint, decimal, " +
       "double, date, session-zone timestamp; header on/off; , and |") {
    withTimeZone("Australia/Melbourne") {
      for (header <- Seq(true, false); sep <- Seq(",", "|")) {
        val df = tricky
        val got = read(sink(df, header, sep))
        val want = sparkCsv(df, header, sep)
        assert(new String(got, "UTF-8") == new String(want, "UTF-8"),
          s"header=$header sep=$sep")
        assert(got.sameElements(want), s"header=$header sep=$sep")
      }
    }
  }

  test("an empty result is a header-only file (an empty one without " +
       "header), as Spark's writer leaves it") {
    for (sep <- Seq(",", "|")) {
      val empty = tricky.where(lit(false))
      val got = read(sink(empty, header = true, sep))
      assert(got.sameElements(sparkCsv(empty, header = true, sep)))
      assert(new String(got, "UTF-8") == Seq("s", "n", "d", "x", "dt", "ts")
        .mkString(sep) + "\n")
    }
    // no header and no rows: an empty file, as the writer leaves it
    val empty = tricky.where(lit(false))
    val got = read(sink(empty, header = false, ","))
    assert(got.isEmpty && got.sameElements(sparkCsv(empty, false, ",")))
  }

  test("ORDER BY over several partitions keeps its order") {
    val df = spark.range(0, 5000, 1, 8)
      .select(col("id"), ((col("id") * 7919) % 1000).as("k"))
      .orderBy(col("k").desc, col("id"))
    val lines = new String(read(sink(df, header = false, ",")), "UTF-8")
      .split("\n").toSeq
    val want = (0L until 5000L).map(i => (i, (i * 7919) % 1000))
      .sortBy { case (i, k) => (-k, i) }.map { case (i, k) => s"$i,$k" }
    assert(lines == want)
  }

  test("replacing an existing file swaps its content and leaves only " +
       "the file") {
    val dir = tmpDir()
    sink(spark.sql("SELECT 1 AS a"), header = true, ",", dir)
    val path = sink(spark.sql("SELECT 2 AS a UNION ALL SELECT 3"),
      header = true, ",", dir)
    assert(new String(read(path), "UTF-8") == "a\n2\n3\n")
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSeq == Seq("out.csv"))
  }

  test("a query that fails at run time leaves the previous file intact " +
       "and no temp or part file behind") {
    val dir = tmpDir()
    val path = sink(spark.sql("SELECT 'before' AS a"), header = true, ",",
      dir)
    val failing = spark.range(0, 100, 1, 4).select(
      when(col("id") === 57, raise_error(lit("boom")).cast("string"))
        .otherwise(col("id").cast("string")).as("a"))
    // the default in-line budget, and one so small every partition
    // streams into a part file before the failure
    for (budget <- Seq(64L << 20, 1L)) {
      val e = intercept[Exception](SingleFileCsv.write(failing,
        dir.toString, "out.csv", header = true, ",", budget))
      assert(e.getMessage.contains("boom"))
      assert(new String(read(path), "UTF-8") == "a\nbefore\n")
      assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.endsWith(".crc")).toSeq == Seq("out.csv"))
    }
  }

  test("partitions past the in-line budget stream through part files: " +
       "same bytes as Spark's writer, no part file left behind") {
    val dir = tmpDir()
    val df = tricky
    val want = sparkCsv(df, header = true, "|")
    // 1 byte: every partition spills; 200 bytes: some do, some do not
    for (budget <- Seq(1L, 200L)) {
      val got = read(SingleFileCsv.write(df, dir.toString, "out.csv",
        header = true, "|", budget))
      assert(got.sameElements(want), s"budget $budget")
      assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.endsWith(".crc")).toSeq == Seq("out.csv"))
    }
  }

  test("an array column and an empty schema are rejected with the " +
       "writer's errors before anything is written; duplicate column " +
       "names pass through, as they do in the writer") {
    def condition(f: => Any): String =
      intercept[AnalysisException](f).getCondition
    for (df <- Seq(spark.sql("SELECT 1 AS a, array(1, 2) AS b"),
                   spark.range(3).select())) {
      val dir = tmpDir()
      val got = condition(sink(df, header = true, ",", dir))
      assert(got == condition(sparkCsv(df, header = true, ",")))
      assert(Files.list(dir).count() == 0)
    }
    val dup = spark.sql("SELECT 1 AS a, 2 AS a")
    assert(read(sink(dup, header = true, ",")).sameElements(
      sparkCsv(dup, header = true, ",")))
  }

  test("one SQL execution per write, with no write command in it") {
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(name -> qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        seen.put(name -> qe)
    }
    spark.listenerManager.register(listener)
    def marks(e: (String, QueryExecution), name: String): Boolean =
      e._2.analyzed.output.exists(_.name == name)
    try {
      // listener events arrive in order, and an earlier test's
      // executions can still be queued when the listener registers:
      // only the events between the start and end markers are this
      // write's
      spark.range(1).toDF("start_marker").collect()
      sink(spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count(),
        header = true, ",")
      spark.range(1).toDF("marker").collect()
      val events = Iterator.continually(
        seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .dropWhile(e => !marks(e, "start_marker")).drop(1)
        .takeWhile(e => !marks(e, "marker"))
        .toSeq
      assert(events.size == 1, s"executions: ${events.map(_._1)}")
      assert(find(events.head._2.executedPlan)(
        _.isInstanceOf[DataWritingCommandExec]).isEmpty)
    } finally spark.listenerManager.unregister(listener)
  }
}
