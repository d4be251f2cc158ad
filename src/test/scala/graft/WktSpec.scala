package graft

import scala.util.Random

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GeoFunctions, Wkt}

/**
 * Property tests for the WKT envelope extractor against a brute-force
 * regex-based coordinate parse, and bit for bit against [[WktSpec.Oracle]],
 * the two-pass `String` parser the byte-level one replaced (seeded →
 * deterministic).
 */
class WktSpec extends SparkSpec {

  private val numRe = """-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?""".r

  /** Brute force: collect (x, y) pairs in text order via regex. */
  private def bruteEnvelope(wkt: String): Array[Double] = {
    val nums = numRe.findAllIn(wkt).map(_.toDouble).toSeq
    if (nums.isEmpty) null
    else {
      val xs = nums.grouped(2).map(_.head).toSeq
      val ys = nums.grouped(2).flatMap(_.drop(1).headOption).toSeq
      Array(xs.min, ys.min, xs.max, ys.max)
    }
  }

  test("envelope matches brute force on random polygons (1000 seeded cases)") {
    val rnd = new Random(42)
    for (_ <- 1 to 1000) {
      val n = 3 + rnd.nextInt(8)
      val pts = Seq.fill(n)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
      val ring = (pts :+ pts.head).map { case (x, y) => f"$x%.6f $y%.6f" }.mkString(", ")
      val wkt = s"POLYGON (($ring))"
      assert(Wkt.envelope(wkt).toSeq == bruteEnvelope(wkt).toSeq, wkt)
    }
  }

  test("multipolygon, nested rings, negative and scientific-notation coords") {
    val wkt = "MULTIPOLYGON (((1 2, 3 4, 5 6, 1 2)), ((-7 -8, 9.5 1e2, -1.5E-1 0, -7 -8)))"
    assert(Wkt.envelope(wkt).toSeq == Seq(-7.0, -8.0, 9.5, 100.0))
  }

  test("shapely box layout (the reference's generator output)") {
    val wkt = "POLYGON ((10 -10, 10 10, -10 10, -10 -10, 10 -10))"
    assert(Wkt.envelope(wkt).toSeq == Seq(-10.0, -10.0, 10.0, 10.0))
  }

  test("no coordinates → null envelope; intersects is false") {
    assert(Wkt.envelope("POLYGON EMPTY") == null)
    assert(!Wkt.envelopeIntersects("POLYGON EMPTY", -1, -1, 1, 1))
  }

  test("envelopeIntersects agrees with interval logic on random boxes") {
    val rnd = new Random(7)
    for (_ <- 1 to 1000) {
      def box() = {
        val x0 = rnd.nextDouble() * 100; val y0 = rnd.nextDouble() * 100
        (x0, y0, x0 + rnd.nextDouble() * 50, y0 + rnd.nextDouble() * 50)
      }
      val (ax0, ay0, ax1, ay1) = box()
      val (bx0, by0, bx1, by1) = box()
      val wkt = s"POLYGON (($ax0 $ay0, $ax1 $ay0, $ax1 $ay1, $ax0 $ay1, $ax0 $ay0))"
      val expected = ax0 <= bx1 && ax1 >= bx0 && ay0 <= by1 && ay1 >= by0
      assert(Wkt.envelopeIntersects(wkt, bx0, by0, bx1, by1) == expected)
    }
  }

  test("touching edges count as intersecting (closed-interval semantics)") {
    val wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert(Wkt.envelopeIntersects(wkt, 10, 10, 20, 20)) // corner touch
    assert(Wkt.envelopeIntersects(wkt, -5, -5, 0, 5))   // edge touch
    assert(!Wkt.envelopeIntersects(wkt, 10.0001, 0, 20, 10))
  }


  test("3-D WKT, EWKT SRID prefixes, and unknown words are UNKNOWN (null)") {
    // parity hazard: 'POINT Z (1 2 3)' would otherwise read 1 as x, 2 as y,
    // 3 as x again — a silently corrupt envelope instead of an unknown one
    assert(Wkt.envelope("POINT Z (1 2 3)") == null)
    assert(Wkt.envelope("POLYGON Z ((1 2 3, 4 5 6, 7 8 9, 1 2 3))") == null)
    assert(Wkt.envelope("POINT M (1 2 3)") == null)
    assert(Wkt.envelope("POINT ZM (1 2 3 4)") == null)
    assert(Wkt.envelope("SRID=4326;POINT (1 2)") == null)
    assert(Wkt.envelope("approximately 3 by 4 meters") == null)
    // round-9 regression: an alpha run that merely FOLLOWS a digit is not
    // an exponent — "1x2" would parity-flip into a corrupt [1,2,3,2] box
    assert(Wkt.envelope("POINT(1x2 3)") == null)
    assert(Wkt.envelope("POLYGON((1deg 2, 3 4))") == null)
    assert(Wkt.envelope("POINT(1ex 2)") == null) // 'ex' run: not a lone exponent
    assert(!Wkt.envelopeIntersects("POINT Z (1 2 3)", 0, 0, 10, 10))
    // 2-D forms with exponents and the full keyword set still parse
    assert(Wkt.envelope("POINT (1e2 -2.5E-1)").toSeq == Seq(100.0, -0.25, 100.0, -0.25))
    assert(Wkt.envelope(
      "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (3 4, 5 6))").toSeq ==
      Seq(1.0, 2.0, 5.0, 6.0))
    assert(Wkt.envelope("POLYGON EMPTY") == null)
  }

  test("malformed numeric text returns null, never throws") {
    // "1.2.3" and a bare "-" both LOOK like number starts to the scanner;
    // parseDouble would throw and kill the whole scan task
    for (bad <- Seq("N/A - missing", "POLYGON((1.2.3 4))", "POLYGON((- 5))",
        "..", "1e", "POLYGON((3e++2 1))")) {
      assert(Wkt.envelope(bad) == null || Wkt.envelope(bad) != null, bad) // no throw
      // and intersects degrades to false when the envelope is unknown
      if (Wkt.envelope(bad) == null)
        assert(!Wkt.envelopeIntersects(bad, 0, 0, 10, 10), bad)
    }
    assert(Wkt.envelope("POLYGON((1.2.3 4))") == null)
    assert(Wkt.envelope("N/A - missing") == null)
  }

  /** Same envelope, compared through each double's raw bits (so -0.0 and
   *  0.0 differ, and NaN would match only itself). */
  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    (a == null && b == null) || (a != null && b != null &&
      a.indices.forall(i => java.lang.Double.doubleToRawLongBits(a(i)) ==
        java.lang.Double.doubleToRawLongBits(b(i))))

  /** `s`'s UTF-8 bytes placed `pad` bytes into a larger buffer: the shape a
   *  column vector hands out, a view at a non-zero offset. */
  private def atOffset(s: String, pad: Int): UTF8String = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val buf = Array.fill[Byte](pad + b.length + pad)('9'.toByte)
    System.arraycopy(b, 0, buf, pad, b.length)
    UTF8String.fromAddress(buf, Platform.BYTE_ARRAY_OFFSET + pad, b.length)
  }

  test("the byte parser matches the String parser bit for bit on 240k seeded strings") {
    val rnd = new Random(20261019)
    def e4(): String = {
      val v = rnd.nextLong() % 1800000L
      (if (v < 0) "-" else "") + (math.abs(v) / 10000L) + "." + f"${math.abs(v) % 10000L}%04d"
    }
    // every double shape Double.toString prints: 17-digit mantissas,
    // subnormals, huge and tiny exponents
    def anyDouble(): String = {
      val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (d.isNaN || d.isInfinite) "1e400" else d.toString
    }
    val specials = Array("-0.0", "+.5", "1.", "1e0005", "1e400", "-1e400", "4.9e-324",
      "2.2250738585072014E-308", "1.7976931348623157E308", "9007199254740993",
      "9007199254740992", "0.1", "123456789012345678901234567890", "0e999", "-0",
      ".5e-3", "1E+22", "1e23", "1e-22", "1e-23", "00000000000000000000000001.5")
    val malformed = Array("1.2.3", "3e++2", "- 5", "1e", "..", "+", "1e+", "e5", ".e5",
      "1ex", "1x2", "1ee5", "1e+e5", "-e5", "1.5e5e5", "1empty", "+-1")
    val words = Array("POLYGON", "polygon", "MultiPolygon", "POINT", "EMPTY", "Z", "M", "ZM",
      "SRID=4326;", "é", "Ωmega", "ｘ", "１", "\u00e9t\u00e9", "approximately", "e", "E")
    def coord(): String = rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => e4()
      case 4 | 5 => anyDouble()
      case 6 => specials(rnd.nextInt(specials.length))
      case 7 => malformed(rnd.nextInt(malformed.length))
      case 8 => rnd.nextInt(1000).toString
      case _ => String.format(java.util.Locale.ROOT, s"%.${rnd.nextInt(18)}f",
        Double.box(rnd.nextGaussian() * 100))
    }
    val punct = Array(" ", ", ", "((", "))", "(", ")", ",", "  ", "\t")
    def fuzz(): String = {
      val sb = new StringBuilder
      for (_ <- 0 until rnd.nextInt(12)) rnd.nextInt(4) match {
        case 0 => sb ++= words(rnd.nextInt(words.length))
        case 1 => sb ++= punct(rnd.nextInt(punct.length))
        case _ => sb ++= coord()
      }
      sb.toString
    }
    val cases = Iterator.tabulate(240000) { i => i % 6 match {
      case 0 | 1 => // the benchmark's shape: an e4 box
        val (x0, y0, x1, y1) = (e4(), e4(), e4(), e4())
        s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
      case 2 => s"POLYGON ((${Seq.fill(2 + rnd.nextInt(6))(s"${coord()} ${coord()}").mkString(", ")}))"
      case 3 => s"${words(rnd.nextInt(words.length))} (${coord()} ${coord()})"
      case 4 => s"POINT Z (${coord()} ${coord()} ${coord()})" + (if (rnd.nextBoolean()) "" else " M")
      case _ => fuzz()
    } }
    var parseable = 0
    for (wkt <- cases) {
      val want = WktSpec.Oracle.envelope(wkt)
      assert(sameBits(Wkt.envelope(wkt), want), wkt)
      assert(sameBits(Wkt.envelope(atOffset(wkt, 1 + wkt.length % 13)), want), wkt)
      if (want != null) parseable += 1
    }
    assert(parseable > 100000 && parseable < 240000, parseable)
  }

  test("the named edge tokens parse as Double.parseDouble does") {
    for (t <- Seq("-0.0", "+.5", "1.", "1e0005", "4.9e-324", "1e400", "-1e400",
        "2.2250738585072014E-308", "0.30000000000000004", "9007199254740993")) {
      val want = java.lang.Double.parseDouble(t)
      assert(sameBits(Wkt.envelope(s"POINT ($t $t)"), Array(want, want, want, want)), t)
    }
    for (bad <- Seq("1.2.3", "3e++2", "- 5", "1e", "+", "SRID=4326;POINT (1 2)", "POINT M (1 2 3)"))
      assert(Wkt.envelope(s"POINT ($bad 1)") == null, bad)
  }

  /** Rows 0..99: two in every ten 3-D or malformed, the rest the box
   *  [id - 1, id + 1.5]² in e4 text; chunks of 10, so most rows sit at
   *  non-zero offsets of their column vector's byte buffer. */
  private def wktRows: Seq[(Long, String)] = (0L until 100L).map { i =>
    val (lo, hi) = (s"${i - 1}.0000", s"${i + 1}.5000")
    i -> (i % 10 match {
      case 3 => s"POINT Z ($i $i $i)"
      case 7 => "N/A - missing"
      case _ => s"POLYGON (($lo $lo, $hi $lo, $hi $hi, $lo $hi, $lo $lo))"
    })
  }

  test("bbox_intersects reads UTF8Strings in place, with and without codegen") {
    GeoFunctions.register(spark)
    import spark.implicits._
    val dir = tempDir("wkt_sql") + "/store.zarr"
    wktRows.toDF("id", "bbox").coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    spark.read.format("zarr").option("group", "/t").load(dir).createOrReplaceTempView("wkt_sql")
    val box = (20.0, 20.0, 61.0, 61.0)
    val expected = wktRows.collect { case (i, w)
        if WktSpec.Oracle.envelopeIntersects(w, box._1, box._2, box._3, box._4) => i }
    val sql = s"SELECT id FROM wkt_sql WHERE bbox_intersects(bbox, ${box._1}, ${box._2}, " +
      s"${box._3}, ${box._4})"
    def run(): (Seq[Long], Boolean) = {
      val q = spark.sql(sql)
      val wholeStage = new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.nonEmpty
      (q.collect().map(_.getLong(0)).sorted.toSeq, wholeStage)
    }
    val (codegen, codegenUsed) = run()
    assert(codegen == expected && expected.nonEmpty)
    assert(codegenUsed)
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (interpreted, codegenStillUsed) = run()
      assert(interpreted == expected)
      assert(!codegenStillUsed)
      val env = spark.sql("SELECT id, bbox_envelope(bbox) AS e FROM wkt_sql WHERE id IN (3, 7, 42)")
        .collect().map(r => r.getLong(0) -> Option(r.getStruct(1)).map(_.getDouble(2))).toMap
      assert(env == Map(3L -> None, 7L -> None, 42L -> Some(43.5)))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}

object WktSpec {

  /** The two-pass `String` parser that the byte-level [[Wkt]] replaced,
   *  kept verbatim as the oracle for its bit-exactness. */
  object Oracle {
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
}
