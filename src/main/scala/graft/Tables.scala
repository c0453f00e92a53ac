package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver test tables (TESTDATA.md): one parquet per table
  * under `sfDir`. All queries — batch AND streaming — resolve the `events`
  * table through here, so the ts-encoding normalization lives in exactly
  * one place and a physical re-encoding of the lake cannot diverge the two
  * paths (r8 lesson: a regenerated lake flipped `events.ts` from int64
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS); the batch reader errored loudly
  * but hand-written streaming schemas read garbage silently).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Conf the session carries so a TIMESTAMP(NANOS)-encoded events file is
    * readable at all (Spark's parquet reader rejects the footer otherwise).
    * Harmless when the generator writes TIMESTAMP(MICROS) — sessions set it
    * unconditionally at CONSTRUCTION ([[GraftSession]] and the test
    * builder both do), not per-read: it is not a datasource option, and mutating session
    * conf inside a reader is racy under concurrent reads.
    */
  val nanosConf: (String, String) =
    ("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize an events frame's `ts` to session-zoned TimestampType at
    * microsecond precision, whatever physical encoding the generator used.
    * Seen across test-data generations:
    *   - int64 TIMESTAMP(NANOS), surfaced as LongType under [[nanosConf]]:
    *     micros = nanos div 1000 — exact integer truncation, matching
    *     DuckDB's CAST(ts AS TIMESTAMP);
    *   - TIMESTAMP(MICROS) with isAdjustedToUTC=false, surfaced as
    *     TIMESTAMP_NTZ: the session runs UTC, so the cast to TimestampType
    *     is wall-clock- and value-preserving;
    *   - TIMESTAMP(MICROS) adjusted to UTC, surfaced as TimestampType:
    *     already the target type.
    * Any other type fails loud with the column named — an encoding drift
    * must surface as an error, never as a silent 0-row stream.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet encoding $other " +
          "(expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The events table as a file-source STREAM over `dir`, ts normalized
    * exactly as the batch read. The explicit schema a file stream requires
    * is the actual parquet footer schema (read once via the batch path),
    * never a hand-written one: a declared LongType over a micros-encoded
    * file reads raw micros as if they were nanos — no error, wrong
    * timestamps, empty watermarked output (the r8 failure mode).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val footer = spark.read.parquet(s"$dir/events.parquet").schema
    normalizeEventsTs(
      spark.readStream.schema(footer)
        // file stream sources take a directory; select just the events
        // file out of the fixture dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Expected logical schema per table: column names in order, and for each
    * column the set of acceptable Spark types (singleton except where a
    * known encoding family exists). Date-like generator columns have
    * shipped as timestamp[us]; `events.ts` additionally as int64-nanos.
    */
  private val tsFamily: Set[DataType] =
    Set(LongType, TimestampNTZType, TimestampType)
  private def one(t: DataType): Set[DataType] = Set(t)
  import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, StringType, ArrayType}
  private val dateFamily: Set[DataType] =
    Set(TimestampNTZType, TimestampType, org.apache.spark.sql.types.DateType)
  val expectedSchemas: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
    "nation" -> Seq("n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
      "n_regionkey" -> one(IntegerType)),
    "customer" -> Seq("c_custkey" -> one(LongType), "c_name" -> one(StringType),
      "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
      "c_mktsegment" -> one(StringType)),
    "supplier" -> Seq("s_suppkey" -> one(LongType), "s_name" -> one(StringType),
      "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
    "part" -> Seq("p_partkey" -> one(LongType), "p_name" -> one(StringType),
      "p_brand" -> one(StringType), "p_type" -> one(StringType),
      "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
    "orders" -> Seq("o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
      "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
      "o_orderdate" -> dateFamily, "o_orderpriority" -> one(StringType)),
    "lineitem" -> Seq("l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
      "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
      "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
      "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
      "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
      "l_shipdate" -> dateFamily),
    "events" -> Seq("event_id" -> one(LongType), "ts" -> tsFamily,
      "user_id" -> one(LongType), "event_type" -> one(StringType),
      "value" -> one(DoubleType), "props" -> one(StringType)),
    "documents" -> Seq("doc_id" -> one(LongType), "text" -> one(StringType),
      "lang" -> one(StringType), "source" -> one(StringType),
      "n_chars" -> one(LongType)),
    "embeddings" -> Seq("vec_id" -> one(LongType),
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false)),
      "label" -> one(IntegerType)))

  /** Footer-schema drift guard: assert every table under `sfDir` still
    * matches [[expectedSchemas]], failing loud with the table AND column
    * named. Cheap (footers only — no data read) and meant to run once at
    * session start, so a regenerated lake that flips a physical type
    * outside the accepted families fails the round's first second, not as
    * a 0-row result three queries deep (r8 lesson).
    */
  def assertLakeSchemas(spark: SparkSession, sfDir: String): Unit =
    expectedSchemas.foreach { case (table, cols) =>
      val actual: StructType =
        try spark.read.parquet(s"$sfDir/$table.parquet").schema
        catch { case e: Throwable => throw new IllegalStateException(
          s"lake schema guard: cannot read footer of $table at $sfDir: ${e.getMessage}", e) }
      val actualByName = actual.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (name, accepted) =>
        val got = actualByName.getOrElse(name, throw new IllegalStateException(
          s"lake schema guard: $table.$name missing; footer has ${actual.fieldNames.mkString(", ")}"))
        if (!accepted.exists(a => DataType.equalsIgnoreNullability(a, got)))
          throw new IllegalStateException(
            s"lake schema guard: $table.$name is $got, accepted: ${accepted.mkString(" | ")}")
      }
    }
}
