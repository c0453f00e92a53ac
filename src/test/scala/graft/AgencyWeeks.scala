package graft

import java.nio.file.{Files, Path}

import scala.util.hashing.MurmurHash3

import graft.pipeline.AbrSchemas

/** Synthetic pipe-delimited Agency_Data weeks for the delta specs. */
object AgencyWeeks {

  /** A 34-column Agency_Data row: pid + 33 attrs, where attr values
    * default to a hash of (pid, column) in hex, as poorly compressible
    * as real attribute values, and can be overridden per column name.
    */
  def row(pid: String, over: Map[String, String] = Map.empty): String =
    (pid +: AbrSchemas.agencyCompareAttrs.map { c =>
      over.getOrElse(c, f"${MurmurHash3.stringHash(s"$pid/$c")}%08x")
    }).mkString("|")

  /** Two weeks shaped like the benchmark's weekly drop: `rows` keys in
    * the previous week; in the newest, 3 % of them changed, 0.5 %
    * removed and 1 % new keys added (at 8,000 rows: 240 changed, 40
    * removed, 80 added, 8,040 newest rows).
    */
  final case class Pair(previous: Seq[String], newest: Seq[String],
                        changed: Int, added: Int)

  def pair(rows: Int): Pair = {
    val changed = (0 until rows).filter(_ % 100 < 3)
    val removed = (0 until rows).filter(_ % 200 == 199).toSet
    val added = rows until rows + rows / 100
    val newest = (0 until rows).filterNot(removed).map { i =>
      if (i % 100 < 3) row(s"p$i", Map("org_nm" -> s"CHANGED$i"))
      else row(s"p$i")
    } ++ added.map(i => row(s"p$i"))
    Pair((0 until rows).map(i => row(s"p$i")), newest, changed.size,
      added.size)
  }

  /** `p` as the two weeks' staging files (2024-01-08 and 2024-01-15). */
  def stage(staging: Path, p: Pair): Unit = {
    Files.writeString(staging.resolve("VIC240108_ABR_Agency_Data.txt"),
      p.previous.mkString("\n"))
    Files.writeString(staging.resolve("VIC240115_ABR_Agency_Data.txt"),
      p.newest.mkString("\n"))
  }
}
