package graft.sources.dsv2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}

/** Per-file BLOOM FILTER indexes for point-lookup file pruning — the
  * lakehouse feature Delta ships as its bloom-filter index: min/max
  * bounds cannot prune an equality on a column whose values are
  * UNSORTED across files (every file's [min, max] overlaps the
  * literal), which makes point lookups O(table) scans. A per-file
  * bloom answers "provably absent" for exactly that shape.
  *
  * Design for 100 TB:
  *
  *   - blooms are built by the WRITER as rows stream through
  *     ([[LakeWriterFactory]]) — ZERO extra read I/O, map-side, no
  *     driver involvement; commit attaches them to the manifest's
  *     per-file stats (write amplification O(added), like all stats);
  *   - pruning happens at the MANIFEST level ([[LakeStats
  *     .mightMatchFile]]): a bloom miss skips the file with no footer
  *     open — on a million-file table a point lookup plans in O(files)
  *     driver arithmetic and reads only the (true + fpp) matches;
  *   - resolution rides INSIDE [[LakeStats.ColStats]], so field-id
  *     resolution applies: a dropped-then-re-added column can never
  *     consult the old column's bloom, renames keep working;
  *   - files without a bloom (legacy vintages, external commits,
  *     compaction rewrites) are simply kept — conservatism contract
  *     unchanged. A bloom can only EXCLUDE; false positives cost a
  *     footer read, never correctness.
  *
  * Configuration: table property `bloom.columns` = comma-separated
  * source columns (validated at CREATE); each filter has [[bits]] =
  * 2^16 bits = 8 KiB per (file, column) — ~1% fpp at 6.5 k distinct
  * values, degrading gracefully above.
  *
  * Hashing contract: the writer (internal values) and the pruner
  * (pushed-filter literals) MUST canonicalize identically — numerics/
  * date/timestamp to their internal 64-bit form, strings to UTF-8
  * bytes. Both sides live here so they cannot drift.
  */
object LakeBloom {

  /** Table property naming the bloom-indexed source columns. */
  val ColKey = "bloom.columns"

  /** Bits per (file, column) filter; power of two. */
  val bits: Int = 1 << 16

  /** Double-hashing probe count (k). */
  val Hashes = 6

  /** Configured bloom columns of a table (empty when unset). */
  def configured(dir: String): Seq[String] =
    LakeTableIO.tableProps(dir).get(ColKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Source types a bloom admits (canonicalizable on both sides). */
  def admits(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DateType | TimestampType |
         TimestampNTZType | StringType => true
    case _ => false
  }

  // ------------------------------------------------------------- hashing

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def ofLong(v: Long): (Int, Int) = {
    val h = mix(v)
    (h.toInt, (h >>> 32).toInt)
  }

  private def ofBytes(b: Array[Byte]): (Int, Int) = (
    scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c),
    scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995))

  /** Canonical hash of an INTERNAL (writer-side) value. */
  def hashInternal(dt: DataType, row: InternalRow, ord: Int)
      : Option[(Int, Int)] = dt match {
    case LongType                          => Some(ofLong(row.getLong(ord)))
    case IntegerType | DateType            => Some(ofLong(row.getInt(ord)))
    case TimestampType | TimestampNTZType  => Some(ofLong(row.getLong(ord)))
    case StringType => Some(ofBytes(row.getUTF8String(ord).getBytes))
    case _ => None
  }

  /** Canonical hash of a pushed-filter LITERAL (external form) — the
    * same canonical space as [[hashInternal]]; None = shape a bloom
    * cannot judge (caller keeps the file).
    */
  def hashLiteral(v: Any): Option[(Int, Int)] = v match {
    case i: Int                 => Some(ofLong(i.toLong))
    case l: Long                => Some(ofLong(l))
    case s: String              => Some(ofBytes(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case d: java.sql.Date       => Some(ofLong(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(ofLong(d.toEpochDay))
    case t: java.sql.Timestamp  =>
      Some(ofLong(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L))
    case t: java.time.Instant   =>
      Some(ofLong(t.getEpochSecond * 1000000L + t.getNano / 1000L))
    case t: java.time.LocalDateTime =>
      Some(ofLong(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
        1000000L + t.getNano / 1000L))
    case _ => None
  }

  // ------------------------------------------------------------- filter

  /** Mutable writer-side builder (one per (open file, bloom column)). */
  final class Builder(nbits: Int = bits) {
    private val words = new Array[Long](nbits >> 6)
    private val mask = nbits - 1
    def add(h: (Int, Int)): Unit = {
      var i = 0
      while (i < Hashes) {
        val idx = (h._1 + i * h._2) & mask
        words(idx >> 6) |= 1L << (idx & 63)
        i += 1
      }
    }
    def toBase64: String = {
      val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      words.foreach(bb.putLong)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
  }

  /** Decode a stored bloom; null on malformed input (caller keeps). */
  def decode(b64: String): Array[Long] =
    try {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      if (bytes.length == 0 || (bytes.length & 7) != 0) return null
      val n = bytes.length >> 3
      if (((n << 6) & ((n << 6) - 1)) != 0) return null // bits not pow2
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(n)(bb.getLong)
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Membership probe over decoded words; TRUE on any uncertainty. */
  def mightContain(words: Array[Long], h: (Int, Int)): Boolean = {
    if (words == null || words.length == 0) return true
    val mask = (words.length << 6) - 1
    var i = 0
    while (i < Hashes) {
      val idx = (h._1 + i * h._2) & mask
      if ((words(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
}
