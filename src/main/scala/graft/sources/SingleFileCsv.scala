package graft.sources

import java.io.{ByteArrayOutputStream, OutputStream, OutputStreamWriter, StringWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.{SerializableWritable, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

/** Single-file CSV sink with a stable output name — the reference's result
  * contract (reference: agency-delta.go:44-95 renames Athena's
  * `<query-id>.csv` to `<Dataset>_<action>.csv`; documented
  * Readme.md:14-17 — downstream consumers fetch a fixed filename).
  *
  * How it writes: the DataFrame runs as ONE SQL execution at its natural
  * parallelism (no `coalesce(1)`, no write job, no output committer).
  * Each task formats its partition with Spark's own CSV generator
  * (`UnivocityGenerator` with the `CSVOptions` that
  * `df.write.option("header", …).option("sep", …).csv(…)` builds from the
  * same options and session settings) and hands the bytes back to the
  * driver, which writes the header and then every partition, in
  * partition order, into one file. The bytes are the ones Spark's CSV
  * writer produces for the same DataFrame — including, for an empty
  * result, a file holding only the header line (an empty file when
  * `header = false`).
  *
  * Size: any. A partition's bytes come back in-line while they fit its
  * share of a fixed driver budget (64 MiB, or half of
  * `spark.driver.maxResultSize` if that is smaller, split evenly over
  * the partitions); a larger partition is streamed by its task into a
  * hidden part file (`._tmp_<uuid>_<name>.parts/`) that the driver
  * copies into the output and deletes. Small results (query answers,
  * weekly deltas) thus stay in memory, while a table-sized one (a
  * full-refresh UPDATED set, the ingest fixtures' staging snapshots)
  * streams through part files; either way the driver holds at most the
  * budget, and the in-line bytes never reach `spark.driver.maxResultSize`.
  *
  * Atomicity: the output goes to a hidden, per-call-unique temp file
  * (`._tmp_<uuid>_<name>`) in the target directory, which is renamed
  * onto the stable name only once every partition is in it. A query
  * that fails leaves any previous file of that name intact and no temp
  * file behind. Where the file system's rename does not replace an
  * existing file, the old file is deleted first.
  *
  * Schema checks are the CSV writer's: an empty schema or a type CSV
  * cannot hold (arrays, maps, structs) fails with the same
  * `AnalysisException` before anything runs; duplicate column names
  * pass, as they do in the writer.
  */
object SingleFileCsv {

  /** Driver memory all partitions together may return in-line. */
  private val InlineBudget = 64L << 20

  /** The last Hadoop conf broadcast for the tasks' part files. A conf
    * takes longer to serialize (~110 KB) than a small query takes to
    * run, so it is broadcast once per distinct content, not per call;
    * the one it replaces is left to Spark's cleaner, as a call may still
    * be using it.
    */
  private var lastConf: (SparkContext, Map[String, String],
    Broadcast[SerializableWritable[Configuration]]) = _

  private def broadcastConf(sc: SparkContext, conf: Configuration)
      : Broadcast[SerializableWritable[Configuration]] = synchronized {
    val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .toMap
    if (lastConf == null || (lastConf._1 ne sc) || lastConf._2 != entries)
      lastConf = (sc, entries, sc.broadcast(new SerializableWritable(conf)))
    lastConf._3
  }

  /** Keeps what is written in memory up to `limit` bytes; past that,
    * moves it to the stream `open` creates and continues there.
    */
  private final class SpillingStream(limit: Long, open: () => OutputStream)
      extends OutputStream {
    private val buf = new ByteArrayOutputStream()
    private var file: OutputStream = null
    def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (file == null && buf.size.toLong + len > limit) {
        file = open()
        buf.writeTo(file)
        buf.reset()
      }
      if (file == null) buf.write(b, off, len) else file.write(b, off, len)
    }
    override def flush(): Unit = if (file != null) file.flush()
    override def close(): Unit = if (file != null) file.close()
    /** The bytes written, unless they moved to the opened stream. */
    def inline: Option[Array[Byte]] =
      if (file == null) Some(buf.toByteArray) else None
  }

  /** Write `df` as one CSV file at `dir/fileName` (header on by default).
    * Returns the final file path.
    */
  def write(df: DataFrame, dir: String, fileName: String,
            header: Boolean = true, delimiter: String = ","): String = {
    val maxResult = df.sparkSession.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    write(df, dir, fileName, header, delimiter,
      if (maxResult > 0) math.min(InlineBudget, maxResult / 2)
      else InlineBudget)
  }

  /** [[write]] with an explicit in-line budget, in bytes. */
  private[graft] def write(df: DataFrame, dir: String, fileName: String,
                           header: Boolean, delimiter: String,
                           budget: Long): String = {
    Bridge.checkCsvWritable(df)
    val spark = df.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dest = new Path(dir, fileName)
    val fs = dest.getFileSystem(hadoopConf)
    val tmp = new Path(dest.getParent,
      s"._tmp_${UUID.randomUUID()}_${dest.getName}")
    val partsDir = tmp.suffix(".parts").toString
    val schema = df.schema
    // the options read session settings (the generator's date/timestamp
    // formatters too, on the tasks, which run with the session's conf)
    val conf = spark.sessionState.conf
    val (options, headerLine) = SQLConf.withExistingConf(conf) {
      val opts = new CSVOptions(
        Map("header" -> header.toString, "sep" -> delimiter),
        conf.csvColumnPruning, conf.sessionLocalTimeZone,
        conf.columnNameOfCorruptRecord)
      val h = new StringWriter()
      if (opts.headerFlag) {
        val gen = new UnivocityGenerator(schema, h, opts)
        gen.writeHeaders()
        gen.close()
      }
      (opts, h.toString.getBytes(UTF_8))
    }
    try Bridge.runPartitions(df, s"SingleFileCsv.write($fileName)") {
      partitions =>
        val limit = math.max(1L, budget / math.max(1, partitions))
        val taskConf = broadcastConf(spark.sparkContext, hadoopConf)
        (ctx, rows) => {
          val part = new Path(partsDir,
            s"part-${ctx.partitionId()}-${ctx.attemptNumber()}")
          val out = new SpillingStream(limit, () =>
            part.getFileSystem(taskConf.value.value).create(part, false))
          val gen = new UnivocityGenerator(schema,
            new OutputStreamWriter(out, UTF_8), options)
          try rows.foreach(gen.write) finally gen.close()
          // a partition's CSV: its bytes, or the part file holding them
          out.inline.toRight(part.toString)
        }
    } { parts =>
      try {
        val out = fs.create(tmp, false)
        try {
          out.write(headerLine)
          parts.foreach {
            case Right(bytes) => out.write(bytes)
            case Left(spilled) =>
              val in = fs.open(new Path(spilled))
              try IOUtils.copyBytes(in, out, 1 << 16, false) finally in.close()
          }
        } finally out.close()
        if (!fs.rename(tmp, dest)) {
          fs.delete(dest, false)
          if (!fs.rename(tmp, dest))
            throw new IllegalStateException(s"rename $tmp -> $dest failed")
        }
      } catch {
        case e: Throwable => fs.delete(tmp, false); throw e
      }
    } finally fs.delete(new Path(partsDir), true)
    dest.toString
  }
}
