package graft.catalog

import org.apache.spark.sql.types._

/** Per-file, per-column distinct-count sketches (round 11): plain
  * HyperLogLog (Flajolet et al. 2007, the public algorithm) with
  * 2^[[P]] = 256 byte registers per column — mergeable by register-wise
  * max, so the NDV of ANY file subset (e.g. the post-pruning survivors
  * of a scan) is one merge away at plan time. ~6.5% standard error,
  * plenty for the optimizer's broadcast/reorder decisions (the engine's
  * re-expression of Iceberg's puffin NDV sketches; the reference rides
  * those via its jars).
  *
  * Sketches are computed by an explicit [[CatalogIO.analyzeTable]]
  * action (one distributed pass, like Iceberg's compute-stats — NEVER
  * on the commit path, so writes stay O(new data) with zero extra
  * read), recorded per manifest entry ([[CatalogIO.DataFile.ndv]], `""`
  * = no sketch), and carried forward for surviving files by every later
  * commit. Files added after the last analyze carry no sketch; scans
  * then report no NDV for the affected columns (estimates are never
  * guessed from partial coverage) until the next analyze.
  *
  * Hashing: splitmix64 finalization over a canonical 64-bit image of
  * the value (exact integral value, IEEE bits, FNV-1a for byte
  * strings) — deterministic across JVMs, no Spark expression machinery
  * needed executor-side. */
object Ndv {

  /** Register-count exponent: 2^8 = 256 registers, ~6.5% error, 344
    * base64 chars per (file, column) manifest entry. */
  val P = 8
  val Registers: Int = 1 << P

  /** Most columns sketched per analyze (schema order, atomic types). */
  val MaxColumns = 16

  def emptySketch(): Array[Byte] = new Array[Byte](Registers)

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Canonical 64-bit image of an atomic Spark value (external or
    * catalyst-internal representation), or None for types this sketch
    * does not cover. Nulls never reach here (they don't count toward
    * NDV, matching catalyst ColumnStat semantics). */
  def imageOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case b: Boolean => Some(if (b) 1L else 0L)
    case d: Double => Some(java.lang.Double.doubleToLongBits(d + 0.0d))
    case f: Float => Some(java.lang.Double.doubleToLongBits(f.toDouble + 0.0d))
    case s: String => Some(fnv1a(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(fnv1a(u.getBytes))
    case d: java.math.BigDecimal => Some(fnv1a(d.stripTrailingZeros.toPlainString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case d: org.apache.spark.sql.types.Decimal => imageOf(d.toJavaBigDecimal)
    // java.sql.Date canonicalizes to its EPOCH-DAY, same image as
    // LocalDate/catalyst Int days — epoch-millis would make the same
    // date hash differently under spark.sql.datetime.java8API.enabled,
    // silently inflating NDV on any cross-run sketch merge
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp => Some(t.getTime * 1000L + t.getNanos / 1000 % 1000)
    case t: java.time.Instant => Some(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case _ => None
  }

  /** Types the sketch covers (mirrors [[imageOf]]). */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Fold one value into the registers (mutates `regs`). */
  def add(regs: Array[Byte], v: Any): Unit = imageOf(v).foreach { img =>
    val h = splitmix64(img)
    val idx = (h >>> (64 - P)).toInt
    val rank = (java.lang.Long.numberOfLeadingZeros(h << P | (1L << (P - 1))) + 1)
      .toByte
    if (rank > regs(idx)) regs(idx) = rank
  }

  /** Register-wise max merge (mutates and returns `into`). */
  def merge(into: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < Registers) {
      if (other(i) > into(i)) into(i) = other(i)
      i += 1
    }
    into
  }

  /** Cardinality estimate: standard HLL with linear counting below the
    * small-range threshold (the regime where raw HLL biases high). */
  def estimate(regs: Array[Byte]): Long = {
    val m = Registers.toDouble
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < Registers) {
      sum += 1.0 / (1L << (regs(i) & 0xff)).toDouble
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / m) // standard bias constant, m >= 128
    val raw = alpha * m * m / sum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros.toDouble)
      else raw
    math.max(0L, math.round(est))
  }

  // ---- manifest codec ----------------------------------------------
  //
  // One file's sketches = entries joined by ';', each `col=base64`.
  // Column names are escaped with FileStats' %xx scheme.

  /** Encode per-column sketches (lowercased names) for one manifest
    * entry. */
  def encode(cols: Map[String, Array[Byte]]): String =
    cols.toSeq.sortBy(_._1).map { case (n, regs) =>
      s"${FileStats.esc(n)}=${java.util.Base64.getEncoder.encodeToString(regs)}"
    }.mkString(";")

  /** Decode one manifest entry; None for `""`/unparseable (no NDV). */
  def decode(encoded: String): Option[Map[String, Array[Byte]]] = {
    if (encoded == null || encoded.isEmpty) return None
    scala.util.Try {
      encoded.split(';').iterator.map { e =>
        val cut = e.indexOf('=')
        require(cut > 0, s"malformed ndv entry: $e")
        val regs = java.util.Base64.getDecoder.decode(e.substring(cut + 1))
        require(regs.length == Registers, s"wrong register count ${regs.length}")
        FileStats.unesc(e.substring(0, cut)).toLowerCase -> regs
      }.toMap
    }.toOption
  }
}
