package abrbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.{AbrSchemas, QueryApi}
import graft.sources.LakeIngest

/** One issued query: its SQL, the header and sorted body it must
  * return, and whether only the key column is compared.
  */
final case class Q(kind: String, sql: String, header: String,
                   expected: Seq[String], keysOnly: Boolean)

/** Read-only SQL over a lake of `weeks` weekly Agency_Data partitions,
  * issued through `QueryApi.query` by closed-loop clients. Every answer
  * is derived from the generator and checked after the timed window.
  */
final class LakeQueries(spark: SparkSession, seed: Long, rowsPerWeek: Int,
                        weeks: Int, churn: Gen.Churn) {
  import Workload._

  private var dir: Path = _
  private var dates = IndexedSeq.empty[LocalDate]
  private val byState = mutable.ArrayBuffer.empty[Map[String, Int]]
  private val updated = mutable.ArrayBuffer.empty[Set[Long]]
  // probe abn -> per week, the probe row's (org_nm, son_pc) if present
  private val probes = mutable.LinkedHashMap.empty[String, Array[Option[(String, String)]]]
  private var inputBytes = 0L
  private def lakeRoot = dir.resolve("lake").toString

  def setup(d: Path): Unit = {
    dir = d
    byState.clear(); updated.clear(); probes.clear()
    val stage = dir.resolve("stage")
    Files.createDirectories(stage)
    val pop = new Gen.Population(seed, rowsPerWeek)
    val probePids = (0 until 48).map(i => pop.pids(i * (rowsPerWeek / 48)))
    val probeAbn = probePids.map(p => p -> Gen.renderStr(seed,
      Gen.attrs.indexOf("abn"), p, 0)).toMap
    probePids.foreach(p => probes(probeAbn(p)) = Array.fill(weeks)(None))
    dates = (0 until weeks).map(w => Gen.baseDate(seed).plusWeeks(w))
    inputBytes = 0L
    (0 until weeks).foreach { w =>
      updated += (if (w == 0) Set.empty[Long] else pop.advance(churn).updated)
      val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
      (0 until pop.size).foreach { i =>
        counts(pop.value(i, Gen.sttIdx).getOrElse("")) += 1
        probeAbn.get(pop.pids(i)).foreach { abn =>
          probes(abn)(w) = Some((pop.value(i, Gen.orgIdx).getOrElse(""),
            pop.value(i, Gen.pcIdx).getOrElse("")))
        }
      }
      byState += counts.toMap
      inputBytes += Gen.writeFile(
        stage.resolve(Gen.fileName(dates(w), "Agency_Data")))(pop.write)
    }
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    LakeIngest.ingest(spark, stage.toString, lakeRoot,
      Map("Agency_Data" -> AbrSchemas.agencyColumns))
    LakeIngest.registerTable(spark, table, lakeRoot, "Agency_Data",
      AbrSchemas.agencyColumns)
    rm(stage)
  }

  def lakeBytesPerInputByte: Double =
    Check.bytesUnder(java.nio.file.Paths.get(lakeRoot, "DATA")).toDouble /
      inputBytes

  /** Query `i` of a client: the mix is a fixed cycle of ten (four
    * single-week aggregates, three adjacent-week change queries, three
    * ABN histories over 8-13 weeks), so every seed runs the same shares
    * and only the weeks and ABNs are drawn from `rnd`.
    */
  def next(rnd: java.util.SplittableRandom, i: Int): Q = {
    val r = "ACHACHACHA".charAt(i % 10)
    if (r == 'A') {
      val w = rnd.nextInt(weeks)
      Q("aggregate",
        s"SELECT son_stt, count(*) AS n FROM $table " +
          s"WHERE importdate = '${dates(w)}' GROUP BY son_stt",
        "son_stt,n",
        byState(w).toSeq.map { case (s, n) => s"$s,$n" }.sorted, false)
    } else if (r == 'C') {
      val w = 1 + rnd.nextInt(weeks - 1)
      val differs = AbrSchemas.agencyCompareAttrs
        .map(c => s"n.$c != p.$c").mkString(" OR ")
      Q("change",
        s"SELECT n.* FROM $table n INNER JOIN $table p ON n.pid = p.pid " +
          s"WHERE n.importdate = '${dates(w)}' AND " +
          s"p.importdate = '${dates(w - 1)}' AND ($differs)",
        (AbrSchemas.agencyColumns :+ "importdate").mkString(","),
        updated(w).toSeq.sorted.map(_.toString), true)
    } else {
      val abn = probes.keys.toIndexedSeq(rnd.nextInt(probes.size))
      val len = 8 + rnd.nextInt(6)
      val w0 = rnd.nextInt(weeks - len + 1)
      val rows = (w0 until w0 + len).flatMap { w =>
        probes(abn)(w).map { case (o, pc) => s"${dates(w)},$o,$pc" }
      }
      Q("abn_history",
        s"SELECT importdate, org_nm, son_pc FROM $table WHERE abn = '$abn' " +
          s"AND importdate BETWEEN '${dates(w0)}' AND '${dates(w0 + len - 1)}'",
        "importdate,org_nm,son_pc", rows.sorted, false)
    }
  }

  def run(q: Q, outDir: String): String = QueryApi.query(spark, q.sql, outDir)

  /** Problems with one query's result file. */
  def check(q: Q, file: String): Seq[String] = {
    val lines = Files.readAllLines(java.nio.file.Paths.get(file)).asScala.toSeq
    val body =
      if (q.keysOnly) Check.keys(lines).sorted.map(_.toString)
      else lines.drop(1).filter(_.nonEmpty).sorted
    val hdr = if (lines.isEmpty) "" else lines.head
    // an empty result is written without a header line
    if ((hdr == q.header || (lines.isEmpty && q.expected.isEmpty)) &&
        body == q.expected) Nil
    else Seq(s"${q.kind} query ${file}: ${body.size} rows, " +
      s"expected ${q.expected.size}")
  }
}
