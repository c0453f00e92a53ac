package graft

import java.nio.file.Files

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.operators.SnapshotDelta
import graft.pipeline.{AbrSchemas, Pipeline}
import graft.sources.LakeIngest

/** The `Observation` API as the engine's zero-cost DQ seam: metrics
  * attach to a node of an EXISTING job and are collected as the rows
  * stream past — at 100 TB the difference between "row counts for free"
  * and a second full scan. The reference's pipeline logs row-level
  * outcomes driver-side (`load.go:65-67` log-and-continue); observe()
  * is the Spark-native form of the same bookkeeping.
  */
class ObservationSpec extends SparkSpec {

  test("observed metrics ride the existing job: pre-filter counts are " +
       "collected with no second scan, and match an independent count") {
    val obs = Observation("ingress")
    def frame = spark.range(0, 10000).select(
      col("id").as("key"),
      (col("id") % 5).as("status"),
      (col("id") % 101 - 3).as("price"))
    val observed = frame.observe(obs,
      count(lit(1)).as("rows_in"),
      count(when(col("price") <= 0, 1)).as("nonpositive_price"),
      sum(col("key")).as("key_sum"))
    // the downstream query filters; the observation still sees ingress
    val kept = observed.where(col("status") === 0).count()
    val m = obs.get
    assert(m("rows_in") == 10000L)
    assert(m("nonpositive_price") == frame.where(col("price") <= 0).count())
    assert(kept == 2000L, "the filter must drop rows — bad fixture")
    assert(m("key_sum") == (0L until 10000L).sum)
  }

  test("an observation on the delta join's newest side reports the " +
       "snapshot's row count during the delta job itself") {
    // a two-week lake laid out by the pipeline's own ingest: 300 keys a
    // week, 12 of them changed in the newest week
    val base = Files.createTempDirectory("graft-obs")
    val staging = Files.createDirectory(base.resolve("staging"))
    val lake = base.resolve("lake").toString
    def week(file: String, changed: Boolean): Unit =
      Files.writeString(staging.resolve(file), (0 until 300).map { i =>
        val org = if (changed && i % 25 == 0) s"NEW$i" else s"ORG$i"
        (s"p$i" +: AbrSchemas.agencyCompareAttrs.map(c =>
          if (c == "org_nm") org else s"$c$i")).mkString("|")
      }.mkString("\n"))
    week("VIC240108_ABR_Agency_Data.txt", changed = false)
    week("VIC240115_ABR_Agency_Data.txt", changed = true)
    val cols = AbrSchemas.agencyColumns
    LakeIngest.ingest(spark, staging.toString, lake,
      Map("Agency_Data" -> cols))
    val table = Pipeline.tableName("Agency_Data") + "_obs"
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    LakeIngest.registerTable(spark, table, lake, "Agency_Data", cols)
    def snapshot(d: String) =
      spark.table(table).where(col("importdate") === d).drop("importdate")
    try {
      val obs = Observation("newest_side")
      val newest = snapshot("2024-01-15")
        .observe(obs, count(lit(1)).as("snapshot_rows"))
      val changed = SnapshotDelta.updated(newest, snapshot("2024-01-08"),
        AbrSchemas.agencyKey, AbrSchemas.agencyCompareAttrs).count()
      val m = obs.get
      assert(m("snapshot_rows") == snapshot("2024-01-15").count())
      assert(m("snapshot_rows") == 300L)
      assert(changed == 12L)
    } finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }
}
