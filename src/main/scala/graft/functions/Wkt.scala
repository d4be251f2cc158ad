package graft.functions

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Minimal, allocation-light WKT envelope extraction.
 *
 * The reference's `bbox` column holds WKT `POLYGON`/`MULTIPOLYGON` bounding
 * boxes (reference: README.md:12-14, scripts/generate_data.py:23-36); the
 * intended search predicate is envelope intersection. We therefore never
 * materialize a geometry — a single pass over the UTF-8 bytes collecting
 * coordinate (x, y) extrema yields the envelope for any non-empty 2-D WKT.
 * The pass reads a `UTF8String`'s bytes in place (`Platform.getByte`), so a
 * scan's WKT never becomes a `java.lang.String`; the `String` entry points
 * encode once and share the same core.
 *
 * Numbers take an exact fast path: a token whose decimal mantissa is below
 * 2^53 and whose power of ten is within ±22 is one multiply or divide of
 * two exactly representable doubles, so the single IEEE rounding gives the
 * correctly rounded value (Clinger 1990) — bit-identical to
 * `Double.parseDouble`, which every other token (17-digit mantissas,
 * subnormals, `1e400`) still goes through.
 *
 * Malformed geometry is unknown (null envelope, intersects false), never a
 * task-killing exception: numeric-looking text that does not parse
 * ("N/A - missing", "POLYGON((1.2.3 4))"), and any standalone alpha token
 * other than a WKT keyword. The keyword rule matters because `Z`/`M`/`ZM`
 * dimension markers, an EWKT `SRID=...;` prefix or arbitrary words break the
 * x/y alternation below (a Z coordinate or the SRID number would corrupt
 * the envelope via parity flip). The only letter allowed inside a number is
 * a lone exponent `e`/`E` after a digit or dot; "1x2" or "1ex" is unknown.
 */
object Wkt {

  /** Keywords whose bare appearance is consistent with 2-D WKT. */
  private val Keywords: Array[Array[Byte]] = Array("point", "linestring", "polygon",
    "multipoint", "multilinestring", "multipolygon", "geometrycollection", "empty")
    .map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** 10^0 .. 10^22: every one is an exact double. */
  private val Pow10: Array[Double] = Array.tabulate(23)(i => s"1e$i".toDouble)

  @inline private def isAlpha(b: Int): Boolean = (b | 0x20) >= 'a' && (b | 0x20) <= 'z'
  @inline private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'

  /** Bytes `[at, at + len)` spell a [[Keywords]] entry, ignoring ASCII case. */
  private def isKeyword(base: AnyRef, at: Long, len: Int): Boolean = {
    var k = 0
    while (k < Keywords.length) {
      val kw = Keywords(k)
      if (kw.length == len) {
        var i = 0
        while (i < len && (Platform.getByte(base, at + i) | 0x20) == kw(i)) i += 1
        if (i == len) return true
      }
      k += 1
    }
    false
  }

  /**
   * The number token `[at, end)` (bytes drawn from `[0-9.eE+-]`), or NaN
   * when `Double.parseDouble` rejects it. NaN is never a parsed value here:
   * "NaN" is alpha text, not a number token. The fast path takes at most 15
   * mantissa digits, so the mantissa is below 2^53.
   */
  private def parseNumber(base: AnyRef, at: Long, end: Long): Double = {
    var p = at
    val sign = Platform.getByte(base, p)
    if (sign == '-' || sign == '+') p += 1
    var mantissa = 0L
    var digits = 0
    var scale = 0 // digits after the dot
    var dot = false
    var b = 0
    while (p < end && { b = Platform.getByte(base, p); isDigit(b) || (b == '.' && !dot) }) {
      if (b == '.') dot = true
      else { mantissa = mantissa * 10 + (b - '0'); digits += 1; if (dot) scale += 1 }
      p += 1
    }
    var ok = digits > 0 && digits <= 15
    var exp = 0
    if (p < end && (b | 0x20) == 'e') {
      p += 1
      val expSign = if (p < end) Platform.getByte(base, p) else 0
      if (expSign == '-' || expSign == '+') p += 1
      val first = p
      while (p < end && p - first < 9 && isDigit(Platform.getByte(base, p))) {
        exp = exp * 10 + (Platform.getByte(base, p) - '0'); p += 1
      }
      ok &&= p > first
      if (expSign == '-') exp = -exp
    }
    val e10 = exp - scale
    if (ok && p == end && e10 >= -22 && e10 <= 22) {
      val v = if (e10 >= 0) mantissa * Pow10(e10) else mantissa / Pow10(-e10)
      if (sign == '-') -v else v
    } else try java.lang.Double.parseDouble(UTF8String.fromAddress(base, at, (end - at).toInt).toString)
    catch { case _: NumberFormatException => Double.NaN }
  }

  /**
   * The one pass behind every entry point: writes the envelope of the WKT
   * in bytes `[offset, offset + numBytes)` of `base` into `env` as
   * (minx, miny, maxx, maxy) and returns true, or returns false when the
   * text has no coordinates or is malformed (see the object doc).
   */
  private def scan(base: AnyRef, offset: Long, numBytes: Int, env: Array[Double]): Boolean = {
    val end = offset + numBytes
    var p = offset
    var minx = Double.PositiveInfinity
    var miny = Double.PositiveInfinity
    var maxx = Double.NegativeInfinity
    var maxy = Double.NegativeInfinity
    var isX = true
    var any = false
    while (p < end) {
      val c: Int = Platform.getByte(base, p)
      if (isAlpha(c)) {
        // a lone exponent after a digit or dot never gets here: the number
        // token before it took it, and any other letter inside a token
        // leaves the token unparseable
        var q = p + 1
        while (q < end && isAlpha(Platform.getByte(base, q))) q += 1
        if (!isKeyword(base, p, (q - p).toInt)) return false
        p = q
      } else if (c == '-' || c == '+' || c == '.' || isDigit(c)) {
        var q = p + 1
        var prev = c
        var d = 0
        while (q < end && { d = Platform.getByte(base, q)
            isDigit(d) || d == '.' || (d | 0x20) == 'e' ||
              ((d == '-' || d == '+') && (prev | 0x20) == 'e') }) { prev = d; q += 1 }
        val v = parseNumber(base, p, q)
        if (java.lang.Double.isNaN(v)) return false
        if (isX) {
          if (v < minx) minx = v
          if (v > maxx) maxx = v
        } else {
          if (v < miny) miny = v
          if (v > maxy) maxy = v
          any = true
        }
        isX = !isX
        p = q
      } else p += 1
    }
    if (any) { env(0) = minx; env(1) = miny; env(2) = maxx; env(3) = maxy }
    any
  }

  /** Envelope as (minx, miny, maxx, maxy); null if no coordinates were
   *  found or the text is malformed. */
  def envelope(wkt: UTF8String): Array[Double] = {
    val env = new Array[Double](4)
    if (scan(wkt.getBaseObject, wkt.getBaseOffset, wkt.numBytes, env)) env else null
  }

  def envelope(wkt: String): Array[Double] = envelope(UTF8String.fromString(wkt))

  /** Does the WKT's envelope intersect box (minx, miny, maxx, maxy)? Closed
   *  intervals: a touching edge intersects; unknown WKT never does. */
  def envelopeIntersects(wkt: UTF8String, minx: Double, miny: Double,
      maxx: Double, maxy: Double): Boolean = {
    val e = envelope(wkt)
    e != null && e(0) <= maxx && e(2) >= minx && e(1) <= maxy && e(3) >= miny
  }

  def envelopeIntersects(wkt: String, minx: Double, miny: Double,
      maxx: Double, maxy: Double): Boolean =
    envelopeIntersects(UTF8String.fromString(wkt), minx, miny, maxx, maxy)
}
