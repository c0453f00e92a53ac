package abrbench

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import graft.pipeline.AbrSchemas
import graft.sources.DatasetRegistry

/** Seeded generator of ABR-shaped weekly drops with their ground truth.
  *
  * Agency_Data rows are the pipe-delimited 34 columns the pipeline reads
  * (`pid` + [[AbrSchemas.agencyCompareAttrs]]); every other dataset gets
  * a small generic schema. A value is a pure function of
  * (seed, attribute, pid, version), so a population is an array of
  * per-attribute codes and any week can be rendered again from it.
  * The same seed yields byte-identical files, zip included.
  */
object Gen {

  /** Requested weekly change shares, as fractions of the previous week. */
  final case class Churn(changed: Double, added: Double, removed: Double)

  /** Key sets of one week-over-week transition. `updated` follows the
    * pipeline's Legacy rule (an empty-to-value change alone is no
    * update, because the lake reads empty fields as NULL and `NULL !=
    * x` is not true); `updatedNullSafe` counts any difference, which is
    * also the set `updatedNarrow` steers on.
    */
  final case class Truth(updated: Set[Long], updatedNullSafe: Set[Long],
                         added: Set[Long], removed: Set[Long])

  val attrs: IndexedSeq[String] = AbrSchemas.agencyCompareAttrs.toIndexedSeq
  private val nAttr = attrs.size
  private val abnIdx = attrs.indexOf("abn")
  val sttIdx: Int = attrs.indexOf("son_stt")
  val orgIdx: Int = attrs.indexOf("org_nm")
  val pcIdx: Int = attrs.indexOf("son_pc")

  /** How an attribute renders, and how often it is empty (percent). */
  private def kind(a: String): (Char, Int) = a match {
    case "abn" => ('A', 0)
    case "acn" => ('N', 60)
    case "ent_typ_cd" => ('T', 0)
    case "nm_titl_cd" => ('I', 60)
    case "son_stt" | "mn_bus_stt" => ('S', 5)
    case "son_pc" | "mn_bus_pc" => ('P', 5)
    case "son_cntry_cd" | "mn_bus_cntry_cd" => ('C', 10)
    case "sprsn_ind" => ('Y', 10)
    case "nm_sufx_cd" => ('I', 97)
    case "prty_id_blnk" => ('N', 95)
    case "ent_eml" => ('E', 70)
    case "mn_indy_clsn" => ('N', 30)
    case a if a.endsWith("_dt") =>
      ('D', if (a == "abn_regn_dt") 0 else if (a.contains("cancn")) 85 else 40)
    case a if a.endsWith("_dpid") => ('N', 50)
    case a if a.endsWith("_ln_2") || a == "prsn_othr_gvn_nm" => ('W', 85)
    case a if a.startsWith("prsn_") => ('W', 60)
    case _ => ('W', 30)
  }
  private val kinds = attrs.map(kind)

  private val codes = Map(
    'T' -> Array("IND", "PRV", "PUB", "TRT", "SMF", "COP", "PTR"),
    'I' -> Array("MR", "MRS", "MS", "DR", "MISS", "JR", "SR"),
    'S' -> Array("VIC", "NSW", "QLD", "SA", "WA", "TAS", "NT", "ACT"),
    'C' -> Array("AUS", "NZL", "GBR", "USA", "SGP"),
    'Y' -> Array("Y", "N"))
  private val syll = Array("KA", "RI", "MO", "TEN", "BRA", "LO", "VI", "SON",
    "DEL", "AR", "WIN", "TA", "PER", "GO", "LIN", "MAR", "EL", "NOR", "CU",
    "SA", "BEL", "TOR", "HA", "MI")

  /** splitmix64 finalizer: the only source of value randomness. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, a: Int, pid: Long, ver: Int): Long =
    mix(seed * 0x632BE59BD9B4E019L ^ mix(pid * 64 + a) ^ (ver.toLong << 40))

  private def word(sb: java.lang.StringBuilder, x: Long, n: Int): Unit = {
    var y = x
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(syll(((y & 0xff) % syll.length).toInt))
        .append(syll((((y >>> 8) & 0xff) % syll.length).toInt))
      y = y >>> 16
      i += 1
    }
  }
  private def digits(sb: java.lang.StringBuilder, x: Long, n: Int): Unit = {
    val s = java.lang.Long.toString(math.abs(x % 100000000000000L) +
      100000000000000L)
    sb.append(s, s.length - n, s.length)
  }

  /** Render attribute `a` of `pid` at version `ver` (never empty). */
  def render(sb: java.lang.StringBuilder, seed: Long, a: Int, pid: Long,
             ver: Int): Unit = {
    val x = h(seed, a, pid, ver)
    kinds(a)._1 match {
      case 'A' => digits(sb, mix(seed ^ pid), 11)
      case 'N' => digits(sb, x, 9)
      case 'P' => digits(sb, (x & 0xfff) % 9000 + 1000, 4)
      case 'D' =>
        val d = LocalDate.of(1990, 1, 1).plusDays((x & 0x7fffffffL) % 12000)
        sb.append(d.format(DateTimeFormatter.BASIC_ISO_DATE))
      case 'E' => word(sb, x, 1); sb.append("@MAIL.AU")
      case 'W' => word(sb, x, 1 + ((x >>> 60) & 1).toInt + 1)
      case c =>
        val arr = codes(c)
        sb.append(arr(((x & 0x7fffffffL) % arr.length).toInt))
    }
  }
  def renderStr(seed: Long, a: Int, pid: Long, ver: Int): String = {
    val sb = new java.lang.StringBuilder
    render(sb, seed, a, pid, ver)
    sb.toString
  }

  /** One week of Agency_Data: pids plus per-attribute codes
    * (`version << 1 | empty`).
    */
  final class Population(val seed: Long, initial: Int) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var nextPid = 10000001L
    val pids = mutable.ArrayBuffer.empty[Long]
    val state = mutable.ArrayBuffer.empty[Array[Int]]
    (0 until initial).foreach(_ => add())

    private def add(): Long = {
      val pid = nextPid
      nextPid += 1
      val st = new Array[Int](nAttr)
      var a = 0
      while (a < nAttr) {
        val e = ((mix(seed ^ (pid << 6) ^ a) & 0x7fffffffL) % 100) <
          kinds(a)._2
        st(a) = if (e) 1 else 0
        a += 1
      }
      pids += pid
      state += st
      pid
    }

    def size: Int = pids.size
    def value(i: Int, a: Int): Option[String] =
      if ((state(i)(a) & 1) == 1) None
      else Some(renderStr(seed, a, pids(i), state(i)(a) >>> 1))

    /** Change one attribute of row `i`: a new value, or an empty/value
      * flip; a value is re-drawn until its rendering differs.
      */
    private def mutateAttr(i: Int, a: Int): Unit = {
      val st = state(i)
      val flip = rnd.nextInt(100) < 20
      if (flip && kinds(a)._2 > 0) st(a) ^= 1
      else {
        val before = value(i, a)
        var v = st(a) >>> 1
        var tries = 0
        do { v += 1; tries += 1 } while (
          tries < 16 && before.contains(renderStr(seed, a, pids(i), v)))
        st(a) = v << 1
      }
    }

    /** Advance one week; returns the exact key sets of the transition. */
    def advance(c: Churn): Truth = {
      val n = size
      val before = state.map(_.clone())
      val order = rnd.ints(n.toLong, 0, Int.MaxValue).toArray
      val idx = (0 until n).sortBy(i => (order(i), i)).toArray
      val nChanged = math.round(n * c.changed).toInt
      val nRemoved = math.round(n * c.removed).toInt
      val changed = idx.take(nChanged)
      val removed = idx.slice(nChanged, nChanged + nRemoved).toSet
      changed.foreach { i =>
        val k = 1 + rnd.nextInt(3)
        (0 until k).foreach { _ =>
          var a = rnd.nextInt(nAttr)
          while (a == abnIdx) a = rnd.nextInt(nAttr)
          mutateAttr(i, a)
        }
      }
      val legacy = mutable.Set.empty[Long]
      val nullSafe = mutable.Set.empty[Long]
      changed.foreach { i =>
        var a = 0
        while (a < nAttr) {
          val b = before(i)(a)
          val x = state(i)(a)
          if (b != x) {
            val vb = if ((b & 1) == 1) None
              else Some(renderStr(seed, a, pids(i), b >>> 1))
            val vx = value(i, a)
            if (vb != vx) nullSafe += pids(i)
            if (vb.isDefined && vx.isDefined && vb != vx) legacy += pids(i)
          }
          a += 1
        }
      }
      val removedPids = removed.map(pids(_))
      val keep = (0 until n).filterNot(removed)
      val kp = keep.map(pids(_))
      val ks = keep.map(state(_))
      pids.clear(); pids ++= kp
      state.clear(); state ++= ks
      val added = (0 until math.round(n * c.added).toInt).map(_ => add())
      Truth(legacy.toSet -- removedPids, nullSafe.toSet -- removedPids,
        added.toSet, removedPids)
    }

    /** The week as pipe-delimited text, one row per line. */
    def write(out: OutputStream): Unit = {
      val sb = new java.lang.StringBuilder(512)
      var i = 0
      while (i < size) {
        sb.setLength(0)
        sb.append(pids(i))
        val st = state(i)
        var a = 0
        while (a < nAttr) {
          sb.append('|')
          if ((st(a) & 1) == 0) render(sb, seed, a, pids(i), st(a) >>> 1)
          a += 1
        }
        sb.append('\n')
        out.write(sb.toString.getBytes(UTF_8))
        i += 1
      }
    }
  }

  /** Columns of the seven datasets without an in-repo schema. */
  val otherColumns: Seq[String] =
    Seq("abn", "nm", "typ_cd", "start_dt", "end_dt", "stt")
  val otherDatasets: Seq[String] =
    DatasetRegistry.datasets.filterNot(_ == "Agency_Data")

  /** `rows` rows of a generic dataset for week `week`; about 3 % of rows
    * differ from one week to the next.
    */
  def writeOther(out: OutputStream, seed: Long, ds: String, rows: Int,
                 week: Int): Unit = {
    val dsh = mix(ds.hashCode.toLong)
    val sb = new java.lang.StringBuilder(128)
    var r = 0
    while (r < rows) {
      sb.setLength(0)
      val ver = if (((mix(seed ^ dsh ^ r) >>> 3) % 100) < 3) week else 0
      val base = seed ^ dsh
      digits(sb, mix(base ^ r), 11); sb.append('|')
      word(sb, h(base, 1, r, ver), 2); sb.append('|')
      sb.append(codes('T')((mix(base + r) & 3).toInt)); sb.append('|')
      render(sb, base, 8, r, ver); sb.append('|')
      if ((r & 7) == 0) render(sb, base, 9, r, ver)
      sb.append('|')
      sb.append(codes('S')(((mix(base - r) & 0xff) % 8).toInt))
      sb.append('\n')
      out.write(sb.toString.getBytes(UTF_8))
      r += 1
    }
  }

  private val yymmdd = DateTimeFormatter.ofPattern("yyMMdd")
  def fileName(date: LocalDate, ds: String): String =
    s"VIC${date.format(yymmdd)}_ABR_$ds.txt"

  /** First snapshot date of a seed: a Friday in 2024-2025. */
  def baseDate(seed: Long): LocalDate =
    LocalDate.of(2024, 1, 5).plusWeeks((mix(seed) & 0x7fffffffL) % 52)

  def writeFile(p: Path)(f: OutputStream => Unit): Long = {
    val out = new BufferedOutputStream(Files.newOutputStream(p), 1 << 16)
    try f(out) finally out.close()
    Files.size(p)
  }

  /** Zip `files` flat, with a fixed entry time so equal inputs give
    * equal archives.
    */
  def zip(dest: Path, files: Seq[Path]): Long = {
    val zout = new ZipOutputStream(
      new BufferedOutputStream(Files.newOutputStream(dest), 1 << 16))
    try files.foreach { f =>
      val e = new ZipEntry(f.getFileName.toString)
      e.setTime(946684800000L)
      zout.putNextEntry(e)
      Files.copy(f, zout)
      zout.closeEntry()
    } finally zout.close()
    Files.size(dest)
  }

  /** Write the ground-truth key sets beside the data, sorted. */
  def writeTruth(dir: Path, t: Truth): Unit = {
    Files.createDirectories(dir)
    Seq("UPDATED" -> t.updated, "UPDATED_NULLSAFE" -> t.updatedNullSafe,
        "ADDED" -> t.added, "REMOVED" -> t.removed).foreach { case (n, s) =>
      Files.writeString(dir.resolve(s"$n.txt"),
        s.toSeq.sorted.map(_.toString + "\n").mkString)
    }
  }
}
