package graft.functions

/**
 * Minimal, allocation-light WKT envelope extraction.
 *
 * The reference's `bbox` column holds WKT `POLYGON`/`MULTIPOLYGON` bounding
 * boxes (reference: README.md:12-14, scripts/generate_data.py:23-36); the
 * intended search predicate is envelope intersection. We therefore never
 * materialize a geometry — a single pass over the text collecting coordinate
 * (x, y) extrema yields the envelope for any non-empty 2-D WKT.
 */
object Wkt {

  /** Envelope as (minx, miny, maxx, maxy); null if no coordinates found
   *  OR if numeric-looking text does not parse ("N/A - missing",
   *  "POLYGON((1.2.3 4))") — malformed geometry is unknown, never a
   *  task-killing exception. */
  /** Keywords whose bare appearance is consistent with 2-D WKT. Any OTHER
   *  standalone alpha token — `Z`/`M`/`ZM` dimension markers, an EWKT
   *  `SRID=...;` prefix, or arbitrary words — means the x/y alternation
   *  assumption below is wrong (a Z coordinate or the SRID number would
   *  corrupt the envelope via parity flip), so the geometry is UNKNOWN
   *  (null), per this function's contract. Exponent letters inside numbers
   *  ("1e5") are not standalone tokens: they follow a digit or dot. */
  private val Keywords = Array("point", "linestring", "polygon", "multipoint",
    "multilinestring", "multipolygon", "geometrycollection", "empty")

  /** `s(i until i + len)` is a [[Keywords]] entry, ignoring case. Compared
   *  in place: tokens are ASCII letters, so this equals lower-casing the
   *  token, without the substring and its lower-cased copy. */
  private def isKeyword(s: String, i: Int, len: Int): Boolean = {
    var k = 0
    while (k < Keywords.length) {
      val kw = Keywords(k)
      if (kw.length == len && s.regionMatches(true, i, kw, 0, len)) return true
      k += 1
    }
    false
  }

  private def only2dTokens(s: String): Boolean = {
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        var j = i + 1
        while (j < n && { val d = s.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') }) j += 1
        // the only alpha allowed inside a number is a lone exponent 'e'/'E'
        // after a digit/dot — a broader "follows a digit" exemption let
        // "POINT(1x2 3)" through, and the x/y parity flip then produced a
        // CORRUPT envelope instead of the contractual null
        val exponent = (c == 'e' || c == 'E') && j == i + 1 && i > 0 && {
          val p = s.charAt(i - 1); (p >= '0' && p <= '9') || p == '.'
        }
        if (!exponent && !isKeyword(s, i, j - i)) return false
        i = j
      } else i += 1
    }
    true
  }

  def envelope(wkt: String): Array[Double] = try {
    val s = wkt
    if (!only2dTokens(s)) return null
    val n = s.length
    var i = 0
    var minx = Double.PositiveInfinity
    var miny = Double.PositiveInfinity
    var maxx = Double.NegativeInfinity
    var maxy = Double.NegativeInfinity
    var isX = true
    var any = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && { val d = s.charAt(j)
          (d >= '0' && d <= '9') || d == '.' || d == 'e' || d == 'E' ||
            ((d == '-' || d == '+') && { val p = s.charAt(j - 1); p == 'e' || p == 'E' }) }) j += 1
        val v = java.lang.Double.parseDouble(s.substring(i, j))
        if (isX) {
          if (v < minx) minx = v
          if (v > maxx) maxx = v
        } else {
          if (v < miny) miny = v
          if (v > maxy) maxy = v
          any = true
        }
        isX = !isX
        i = j
      } else {
        i += 1
      }
    }
    if (!any) null else Array(minx, miny, maxx, maxy)
  } catch { case _: NumberFormatException => null }

  /** Does the WKT's envelope intersect box (minx, miny, maxx, maxy)? */
  def envelopeIntersects(wkt: String, minx: Double, miny: Double,
      maxx: Double, maxy: Double): Boolean = {
    val e = envelope(wkt)
    e != null && e(0) <= maxx && e(2) >= minx && e(1) <= maxy && e(3) >= miny
  }
}
