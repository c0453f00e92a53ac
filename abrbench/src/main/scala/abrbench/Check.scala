package abrbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Output checks. Each returns the problems it found; an operation with
  * any problem counts as failed.
  */
object Check {

  /** First field of every data line of a headered comma-separated file
    * (the pid leads every delta row and is never quoted).
    */
  def keys(lines: Seq[String]): Seq[Long] =
    lines.drop(1).filter(_.nonEmpty).map { l =>
      val c = l.indexOf(',')
      (if (c < 0) l else l.substring(0, c)).toLong
    }

  /** A delta CSV: exact path, header, and the key multiset equal to
    * `expected` (each key exactly once).
    */
  def deltaCsv(file: Path, header: String, expected: Set[Long]): Seq[String] =
    if (!Files.isRegularFile(file)) Seq(s"missing $file")
    else {
      val lines = Files.readAllLines(file).asScala.toSeq
      val hdr =
        if (lines.headOption.contains(header)) Nil
        else Seq(s"$file: header ${lines.headOption.getOrElse("<empty>")}")
      val got = scala.util.Try(keys(lines)).toOption
      val body = got match {
        case None => Seq(s"$file: unparsable key")
        case Some(ks) if ks.sorted != expected.toSeq.sorted =>
          Seq(s"$file: ${ks.size} keys (${ks.distinct.size} distinct), " +
            s"expected ${expected.size}; ${(ks.toSet -- expected).size} " +
            s"unexpected, ${(expected -- ks.toSet).size} missing")
        case _ => Nil
      }
      hdr ++ body
    }

  /** The reference's lake layout: every dataset has a gzip-CSV
    * `importdate=<date>` directory for every date.
    */
  def lakeLayout(lakeRoot: String, datasets: Seq[String],
                 dates: Seq[String]): Seq[String] =
    for {
      ds <- datasets
      d <- dates
      dir = Paths.get(lakeRoot, "DATA", ds, s"importdate=$d")
      if !Files.isDirectory(dir) || !Files.list(dir).iterator().asScala
        .exists(_.getFileName.toString.endsWith(".csv.gz"))
    } yield s"no gzip part under $dir"

  /** Total size of the regular files under `dir`. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
}
